package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, StructField, StructType}

/** Distributed graph primitives over edge lists — the shapes the Circles
  * pathfinder's precompute consumes (the trust/capacity graph of
  * `crc_capacity_graph_2` is exactly such an edge list; reference consumer:
  * CirclesUBI's pathfinder service reads the capacity view the catalog
  * maintains, DbMigrations/0.0.64.sql:945).
  *
  * Connected components live in [[Dedup.dupClusters]] (near-dup clustering
  * uses the same label-propagation engine); this file holds the DIRECTED
  * reachability family.
  */
object Graph {

  /** Hop-bounded widest paths: for every ordered pair (src, dst) reachable
    * in ≤ `maxHops` edges, the maximum over walks of the minimum edge
    * capacity along the walk — the "how much can u route to v" number a
    * payment pathfinder prunes with before exact flow. The recurrence is
    * widest-path Bellman–Ford:
    *
    *   best_k(u,v) = max(best_{k-1}(u,v),
    *                     max_w min(best_{k-1}(u,w), cap(w,v)))
    *
    * which is exact because appending edge (w,v) to the best ≤k−1 walk
    * u→w realizes min(best_{k-1}(u,w), cap(w,v)). Walks may revisit nodes
    * but a revisit can never raise a min, so hop-bounded walks ≡
    * hop-bounded simple paths here; u→…→u pairs are excluded (the join
    * filters src ≠ dst at every extension).
    *
    * Scale shape: each round shuffles (src, dst, cap) triples only —
    * 24 B/row regardless of what the edges carry — and the round count is
    * the hop bound, not the diameter. The per-round groupBy is a partial
    * (map-side) max. Per-round eager localCheckpoint keeps the iterative
    * plan flat (the 2^n-lineage rule, as in [[Dedup.dupClusters]]). At
    * 100 TB: hub vertices make skewed join groups — salt the dst key the
    * same way the prefix index salts hot tokens; the hop bound (2–4 in
    * the pathfinder use) keeps the closure from densifying.
    *
    * `frontierCap` is the DENSE-GRAPH VALVE (the bucketCap/middleCap
    * precedent): 0 = exact closure; N > 0 keeps, after every round, only
    * each source's N widest frontier rows (ties broken by dst, so the cut
    * is deterministic) — a beam search. The capped result is an explicit,
    * audited under-approximation: a SUBSET of the exact pairs, each with a
    * capacity ≤ its exact value (spec'd), which is the safe direction for
    * a pathfinder prune (it never overpromises routable capacity). The
    * frontier carried into round k is ≤ N·|sources| rows no matter how
    * the pair closure would densify — on a dense graph the exact frame
    * tends toward |V|², the beam stays N·|V|.
    *
    * Input `edges`: (src, dst, cap) — parallel edges reduce to max cap,
    * self-loops and non-positive capacities are dropped.
    */
  def widestPaths(edges: DataFrame, maxHops: Int = 3, frontierCap: Int = 0,
                  checkpointDir: Option[String] = None,
                  checkpointEvery: Int = 5): DataFrame = {
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    // per-source top-N by (cap desc, dst): the row_number spelling is
    // rewritten to the bounded-heap TopK aggregate by RowNumberToPickRule
    // when extensions are registered — no full per-source sort either way
    def beam(df: DataFrame): DataFrame =
      if (frontierCap <= 0) df
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy(col("cap").desc, col("dst"))
        df.withColumn("_rn", row_number().over(w))
          .where(col("_rn") <= frontierCap).drop("_rn")
      }
    val e = cut(edges
      .where(col("cap") > 0 && col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max("cap").as("cap")), 0)
    var best = beam(e)
    if (frontierCap > 0) best = cut(best, 0)
    for (hop <- 2 to maxHops) {
      val extended = best.as("b")
        .join(e.as("x"), col("b.dst") === col("x.src") && col("b.src") =!= col("x.dst"))
        .select(col("b.src").as("src"), col("x.dst").as("dst"),
          least(col("b.cap"), col("x.cap")).as("cap"))
      best = cut(beam(best.unionByName(extended)
          .groupBy("src", "dst").agg(max("cap").as("cap"))), hop - 1)
    }
    best.orderBy("src", "dst")
  }

  /** Hop-bounded reachable set sizes per source — the cheap fan-out stat
    * (how many safes can u reach in ≤ k trust hops) dashboards and
    * pathfinder admission checks read. One extra partial-agg shuffle over
    * [[widestPaths]].
    */
  def reachCounts(edges: DataFrame, maxHops: Int = 3): DataFrame =
    widestPaths(edges, maxHops)
      .groupBy("src")
      .agg(count(lit(1)).as("n_reachable"), max("cap").as("best_cap"))
      .orderBy("src")

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
    * Scale shape: the edge collapse and the out-degrees are DataFrame
    * plans, run once; the rounds are [[powerIteration]]'s co-partitioned
    * pair RDDs. Each round adds one shuffle (the dst-sum, which combines
    * map-side, so a hub's terms reach its reducer once per map partition)
    * and no job: the links⋈ranks and links⟕sums joins are narrow, and
    * every round runs inside the consumer's one job. Payload is (node,
    * double) pairs regardless of graph size; iteration count is a fixed
    * knob, not data-dependent.
    *
    * Input `edges`: (src, dst, cap) — cap>0/self-loop normalization as
    * [[widestPaths]]; parallel edges collapse to one.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
               checkpointDir: Option[String] = None,
               checkpointEvery: Int = 5): DataFrame =
    powerIteration(uniformEdges(edges), None, iters, damping,
      exactTerms = false, checkpointDir, checkpointEvery)

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
    * shape identical to [[pageRank]] — one shuffle a round, all rounds in
    * one job, both joins narrow; the weight rides the link and the term
    * shuffles as an exact decimal. Parallel edges collapse to max weight
    * (the capacity-graph convention).
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
                       checkpointDir: Option[String] = None,
                       checkpointEvery: Int = 5): DataFrame = {
    val e = edges
      .where(col("cap") > 0 && col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max(col("cap")).as("w"))
    powerIteration(e, None, iters, damping, exactTerms = true,
      checkpointDir, checkpointEvery)
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
    * identical — one shuffle a round, all rounds in one job, both joins
    * narrow; the seed flags ride the links, set by the same shuffle that
    * builds them, and |S| comes from the set-up count that also yields N.
    *
    * Input `edges`: (src, dst, cap), normalized as [[pageRank]]; `seeds`:
    * one `node` column (ids absent from the graph contribute restart mass
    * nowhere — they are dropped, matching the SQL twin's semi-join).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5, damping: Double = 0.85,
                           checkpointDir: Option[String] = None,
                           checkpointEvery: Int = 5): DataFrame =
    powerIteration(uniformEdges(edges), Some(seeds), iters, damping,
      exactTerms = false, checkpointDir, checkpointEvery)

  /** The unweighted family's edges: parallel edges collapse to one of
    * weight 1, so a source's weight total is its out-degree. The weight is
    * a long: summed as a double, the same total plans a global sort of the
    * edges first, two more Spark jobs.
    */
  private def uniformEdges(edges: DataFrame): DataFrame =
    edges
      .where(col("cap") > 0 && col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .withColumn("w", lit(1L))

  /** One node of [[powerIteration]]'s adjacency: its out-links with their
    * weights, the weight total they share, and whether walks restart here.
    */
  private final case class OutLinks(dst: Array[Any], w: Array[Double],
                                    total: Double, seed: Boolean)

  /** Spark's `round(x, 12)` on a double, which both engines apply to
    * every rank and weighted term.
    */
  private def round12(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(12, java.math.RoundingMode.HALF_UP).doubleValue

  /** The power iteration behind [[pageRank]], [[pageRankWeighted]] and
    * [[personalizedPageRank]]. `edges` holds one row per link: `src`,
    * `dst` and a weight `w`. A link carries r·w/W of its source's rank, W
    * the source's weight total, summed as a DataFrame aggregate (with
    * w = 1, W is the out-degree and r·1/W is exactly r/outdeg). With
    * `exactTerms` each term rounds to 12 dp, is cast to decimal(28,14) and
    * sums exactly, as [[pageRankWeighted]]'s contract says; otherwise
    * terms sum as doubles. `seeds` = None
    * restarts uniformly, (1−d)/N; Some restarts at the seeds in the
    * graph, (1−d)·[v ∈ S]/|S|.
    *
    * The adjacency is one pair RDD keyed by node — every node, dst-only
    * ones included — under a HashPartitioner of
    * `spark.sql.shuffle.partitions`, cut once through [[Checkpoints]]; one
    * count over it lands the cut and yields N and |S|. Ranks come from
    * `mapValues` over it, so they share its partitioner: the
    * adjacency⋈ranks and adjacency⟕sums joins are narrow, and a round's
    * one shuffle is the `reduceByKey` of its terms. No action runs in the
    * loop, so all rounds run in the consumer's job (the co-partitioned
    * PageRank of Zaharia et al., NSDI 2012). The result keeps the node
    * column's type and the family's `orderBy(r desc, node)`.
    */
  private def powerIteration(edges: DataFrame, seeds: Option[DataFrame],
                             iters: Int, damping: Double, exactTerms: Boolean,
                             checkpointDir: Option[String],
                             checkpointEvery: Int): DataFrame = {
    val spark = edges.sparkSession
    val node = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).schema.head
    require(node.dataType != BinaryType, "power iteration: binary node ids do not hash by value")
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val links = edges.join(edges.groupBy("src").agg(sum(col("w")).as("total")), "src")
    val out = links.select(col("src").cast(node.dataType), col("dst").cast(node.dataType),
        col("w").cast(DoubleType), col("total").cast(DoubleType)).rdd
      .flatMap(r => Iterator(r.get(0) -> Some((r.get(1), r.getDouble(2), r.getDouble(3))),
        r.get(1) -> None))
    val seedKeys = seeds.fold(spark.sparkContext.emptyRDD[(Any, Unit)])(
      _.select(col("node").cast(node.dataType)).rdd.map(r => r.get(0) -> (())))
    val adj = Checkpoints.cut(out.cogroup(seedKeys, part).flatMapValues {
      case (mentions, _) if mentions.isEmpty => None // a seed outside the graph
      case (mentions, seedMarks) =>
        val ls = mentions.flatten.toArray
        Some(OutLinks(ls.map(_._1), ls.map(_._2), ls.headOption.fold(0.0d)(_._3),
          seedMarks.nonEmpty))
    }, 0, checkpointDir, checkpointEvery)
    val (n, nSeeds) = adj.values.aggregate((0L, 0L))(
      (acc, l) => (acc._1 + 1, acc._2 + (if (l.seed) 1 else 0)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    // an empty graph has no ranks (total on empty input); seeds missing
    // from a NON-empty graph is caller error
    if (seeds.isDefined && nSeeds == 0)
      require(n == 0, "personalizedPageRank: no seed intersects the graph")
    // the restart vector and its damped share, spelled as the SQL twins
    // spell them: (1−d)/N is not (1−d)·(1/N) to the last ulp
    val (restart, teleport): (OutLinks => Double, OutLinks => Double) =
      if (seeds.isEmpty) (_ => 1.0d / n, _ => (1.0d - damping) / n)
      else {
        val r: OutLinks => Double = l => if (l.seed) 1.0d / nSeeds else 0.0d
        (r, l => (1.0d - damping) * r(l))
      }
    var ranks = adj.mapValues(l => round12(restart(l)))
    for (it <- 1 to iters) {
      val terms = adj.join(ranks, part).values.flatMap { case (l, r) =>
        l.dst.indices.iterator.map(i => l.dst(i) -> r * l.w(i) / l.total)
      }
      val sums =
        if (!exactTerms) terms.reduceByKey(part, _ + _)
        else terms
          .mapValues(t => java.math.BigDecimal.valueOf(round12(t))
            .setScale(14, java.math.RoundingMode.HALF_UP))
          .reduceByKey(part, _ add _).mapValues(_.doubleValue)
      ranks = Checkpoints.cut(adj.leftOuterJoin(sums, part).mapValues { case (l, s) =>
        round12(teleport(l) + damping * s.getOrElse(0.0d))
      }, it, checkpointDir, checkpointEvery)
    }
    val schema = StructType(Seq(node, StructField("r", DoubleType)))
    spark.createDataFrame(ranks.map { case (k, r) => Row(k, r) }, schema)
      .orderBy(col("r").desc, col("node"))
  }

  /** HITS hubs & authorities over the directed trust graph — the
    * centrality pair PageRank's single score conflates: an AUTHORITY is a
    * safe many good endorsers trust (auth(v) = Σ_{u→v} hub(u)), a HUB is
    * an endorser whose trust points at good authorities (hub(u) =
    * Σ_{u→v} auth(v)). On a trust currency the distinction is real:
    * widely-trusted merchants are authorities; well-connected curators
    * are hubs — PageRank ranks only the former kind of mass.
    *
    * Classic sequential power iteration (auth from current hub, then hub
    * from the NEW auth), L1-normalized — the norm is a decimal SUM, so
    * cross-engine-exact, unlike the L2 convention whose
    * sum-of-squares-then-sqrt would reintroduce double-order drift; L1
    * only rescales, rankings are the eigenvector's either way.
    * Determinism contract as [[pageRank]]: per-edge contributions cast to
    * decimal(28,14) (the bm25 sum rule) and summed exactly, scores round
    * to 12 dp every half-iteration, so the unrolled SQL twin reproduces
    * the fixpoint bit-for-bit.
    *
    * Scale shape, per half-iteration: one edges⋈scores join on the edge
    * key (edges pre-partitioned by src once), one partial-agg decimal sum
    * on the other endpoint (hub skew collapses map-side), one
    * co-partitioned left join back to the node set, and a 1-row total
    * riding back as a broadcast cross join; payloads are (node, double).
    * Eager checkpoint per round via the standard knob.
    */
  def hits(edges: DataFrame, iters: Int = 5,
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
    val n = nodes.count() // bounded driver aggregate: one long
    if (n == 0)
      return nodes.select(col("node"), lit(0.0d).as("hub"), lit(0.0d).as("auth"))
    def normalized(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(sum(col("s")).as("t")) // 1-row decimal total
      raw.crossJoin(broadcast(tot))
        .select(col("node"),
          when(col("t").isNotNull && col("t") > 0,
            round(col("s").cast("double") / col("t").cast("double"), 12))
            .otherwise(lit(0.0d)).as(out))
    }
    // SPARSE score frames inside the loop (r14): a node absent from the
    // gathered sums is exactly a node whose score is 0.0 — a 0.0 score
    // contributes 0 to the next gather's decimal sums AND 0 to the L1
    // total, so keeping the explicit zero rows (the old per-half-iteration
    // nodes left-join) changed nothing downstream. Zeros are restored once
    // at the END; per half-iteration that removes one co-partitioned join.
    def gather(scores: DataFrame, in: String, from: String, to: String): DataFrame =
      e.join(scores.withColumnRenamed("node", from), from)
        .groupBy(col(to).as("node"))
        .agg(sum(col(in).cast("decimal(28,14)")).as("s"))
    var hub = nodes.select(col("node"), round(lit(1.0d / n), 12).as("h"))
    var auth = hub.select(col("node"), col("h").as("a"))
    for (it <- 1 to iters) {
      // materialize the gathered sums ONCE per half-iteration and
      // normalize LAZILY on top: the old spelling cut the normalized
      // frame, so the broadcast total's agg subtree re-ran the whole
      // gather (join + partial-agg) a second time every half-iteration
      auth = normalized(cut(gather(hub, "h", "src", "dst"), it), "a")
      hub = normalized(cut(gather(auth, "a", "dst", "src"), it), "h")
    }
    nodes.join(hub, Seq("node"), "left").join(auth, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0.0d)).as("hub"),
        coalesce(col("a"), lit(0.0d)).as("auth"))
      .orderBy(col("auth").desc, col("node"))
  }

  /** Undirected triangle census + local clustering coefficient per node —
    * the cohesion stat of a social graph (a trust edge inside a triangle
    * is vouched for by a common contact; high clustering = tight
    * community, low = hub-and-spoke).
    *
    * Scale shape is the degree-ordered wedge join (Suri & Vassilvitskii's
    * "curse of the last reducer" fix): every undirected edge is oriented
    * from its (degree, id)-smaller endpoint to the larger, so each
    * triangle is generated exactly once AND a hub's wedges are enumerated
    * by its low-degree neighbors — the per-key join fan-out is bounded by
    * arboricity-sized effective degrees, not by the hub degree, which is
    * what kills the naive node-iterator at 100 TB. Three shuffles total
    * (canonical edge distinct, wedge self-join on lo, closing-edge join
    * on (v, w)); every frame carries node-id pairs/triples only, and the
    * per-node rollup is a partial-agg count over exploded corners.
    *
    * Input `edges`: directed (src, dst) pairs; direction and multiplicity
    * are erased (triangles live on the underlying simple graph),
    * self-loops dropped.
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val und = edges
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true) // feeds deg + orientation: one derivation
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val aKey = struct(col("da").as("d"), col("a").as("n"))
    val bKey = struct(col("db").as("d"), col("b").as("n"))
    val ori = withDeg.select(
        when(aKey < bKey, col("a")).otherwise(col("b")).as("lo"),
        when(aKey < bKey, col("b")).otherwise(col("a")).as("hi"),
        when(aKey < bKey, bKey).otherwise(aKey).as("hiKey"))
      .localCheckpoint(true) // read three times: two wedge legs + closing
    val tri = ori.as("e1")
      .join(ori.as("e2"),
        col("e1.lo") === col("e2.lo") && col("e1.hiKey") < col("e2.hiKey"))
      .select(col("e1.lo").as("u"), col("e1.hi").as("v"), col("e2.hi").as("w"))
      // the closing edge {v,w}, if present, is oriented v→w: both are
      // above u in the (deg, id) order and v precedes w by construction
      .join(ori.select(col("lo").as("v"), col("hi").as("w")), Seq("v", "w"))
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("deg") >= 2, (col("triangles") * 2.0d) /
          (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0d)))
      .orderBy("node")
  }

  /** Link prediction over the undirected trust graph: for every
    * non-adjacent pair with at least one common neighbor, the
    * common-neighbor count and the Adamic–Adar score Σ_w 1/ln(deg w)
    * (common contacts weighted by their selectivity — a 2-degree hub
    * vouches harder than a 10k-degree one), then top-k suggestions per
    * node. The "who should u trust next" feed a social-currency UI ranks.
    *
    * Scale shape: candidates come from the wedge join on the middle node
    * — cost Σ_w deg(w)², never |V|². The quadratic term is governed by
    * `middleCap`: middle nodes above the cap are dropped from wedge
    * generation by the engine's standard partial-agg count + broadcast
    * anti-join valve (the minhash hot-bucket precedent) — semantics:
    * recommendations through mega-hubs are the least informative
    * (1/ln(deg) → 0) and the first to be load-shed. All wedge shuffles
    * carry id pairs; deg(w) rides the wedge row (no join back). Per-pair
    * AA terms round to 12 dp and sum as decimal (the decimal-cast-sums
    * parity rule); top-k per node is the row_number()-window spelling,
    * which [[graft.plans.RowNumberToPickRule]] rewrites to the bounded-
    * heap aggregate — k rows per (node, partition) in the final shuffle.
    *
    * Input `edges`: directed (src, dst); direction/multiplicity erased,
    * self-loops dropped (as [[triangleStats]]).
    */
  def recommendEdges(edges: DataFrame, topK: Int = 5,
                     middleCap: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = edges
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(true) // feeds adjacency both ways + the anti-join
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionAll(und.select(col("b").as("node"), col("a").as("nbr")))
    val deg = adj.groupBy(col("nbr").as("w")).agg(count(lit(1)).as("degw"))
    val hot = deg.where(col("degw") > middleCap)
    val mids = adj.select(col("nbr").as("w"), col("node"))
      .join(broadcast(hot.select("w")), Seq("w"), "left_anti")
      .join(deg, Seq("w"))
    val wedges = mids.as("x")
      .join(mids.as("y"),
        col("x.w") === col("y.w") && col("x.node") < col("y.node"))
      .select(col("x.node").as("u"), col("y.node").as("v"),
        round(lit(1.0d) / log(col("x.degw").cast("double")), 12)
          .cast("decimal(28,14)").as("aa_term"))
      .join(und.select(col("a").as("u"), col("b").as("v")), Seq("u", "v"),
        "left_anti") // already-adjacent pairs are not suggestions
    val pairs = wedges.groupBy("u", "v")
      .agg(count(lit(1)).as("common_cnt"),
        round(sum("aa_term").cast("double"), 12).as("aa_score"))
    val both = pairs.select(col("u").as("node"), col("v").as("other"),
        col("common_cnt"), col("aa_score"))
      .unionAll(pairs.select(col("v").as("node"), col("u").as("other"),
        col("common_cnt"), col("aa_score")))
    val w = Window.partitionBy("node")
      .orderBy(col("aa_score").desc, col("common_cnt").desc, col("other"))
    both.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .orderBy("node", "rank")
  }

  /** Directed degree census: out/in degree and the number of reciprocated
    * out-edges per node (mutual trust — on the Circles graph a
    * reciprocated edge means both parties accept each other's tokens).
    * Parallel edges collapse first; partial-agg counts plus one
    * (src,dst)↔(dst,src) self-join, all shuffles carrying id pairs.
    */
  def degreeStats(edges: DataFrame): DataFrame = {
    val e = edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .localCheckpoint(true) // feeds out, in, and the reciprocity self-join
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    val recip = e.as("x")
      .join(e.as("y"), col("x.src") === col("y.dst") && col("x.dst") === col("y.src"),
        "left_semi")
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("reciprocal"))
    nodes.join(out, Seq("node"), "left").join(in, Seq("node"), "left")
      .join(recip, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("reciprocal"), lit(0L)).as("reciprocal"))
      .orderBy("node")
  }

  /** Weakly connected components over a directed edge list: (node,
    * component) with component = the MIN node id of the component —
    * the trust-island question ("which safes can reach each other at
    * all"), and the graph-general form of the near-dup clustering the
    * dedup family already proves out. Delegates to exactly that loop
    * ([[Dedup.dupClusters]] — hash-to-min label propagation, per-round
    * eager localCheckpoint against the 2^n-lineage trap, 1-row
    * convergence probes, rounds bounded by component diameter); `least`/
    * `min` are type-generic, so address-string nodes ride through
    * unchanged. Direction and multiplicity are erased by the
    * symmetrization inside; self-loops are dropped here. Isolated nodes
    * never appear (no edge ⇒ no row), matching the SQL closure twin.
    */
  def connectedComponents(edges: DataFrame,
                          checkpointDir: Option[String] = None,
                          checkpointEvery: Int = 5): DataFrame =
    Dedup.dupClusters(edges
      .where(col("src") =!= col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b")),
      checkpointDir = checkpointDir, checkpointEvery = checkpointEvery)
      .select(col("doc_id").as("node"), col("cluster_id").as("component"))
      .orderBy("node")

  /** STRONGLY connected components of the DIRECTED trust graph — the
    * mutual-trust communities [[connectedComponents]]'s direction-erased
    * view cannot see (u trusting v says nothing about v trusting u; an
    * SCC is a set where value can circulate back to its source, the
    * natural "currency community" of a trust-based money).
    *
    * Trim + forward–backward peeling (the FW–BW-Trim shape of Slota,
    * Rajamanickam & Madduri, IPDPS'14, re-expressed as DataFrame loops):
    *
    *  1. TRIM: a node missing either an in-edge or an out-edge in the
    *     residual graph cannot lie on a cycle, so it is a singleton SCC.
    *     One union + partial-agg degree-flag pass per layer certifies and
    *     strips the whole layer at degree-filter cost — no label
    *     propagation — and iterates because removing a layer exposes the
    *     next (a pure DAG trims away completely in longest-path cheap
    *     iterations; pre-r8 this fringe cost a full FW–BW round per
    *     layer, 2 propagation loops × diameter jobs each).
    *  2. FW–BW: fwd(u) = min node reachable FROM u; bwd(u) = min node
    *     that REACHES u — two delta-propagating label loops (messages
    *     flow only out of nodes whose label changed last iteration, so
    *     late iterations shuffle frontier-sized frames) launched
    *     CONCURRENTLY on two driver threads: the jobs are independent,
    *     Spark schedules both DAGs at once, wall-clock ≈ max, not sum.
    *     fwd(u) = bwd(u) = m certifies u and m mutually reachable, so
    *     {u : fwd = bwd = m} IS exactly SCC(m) — those rows are emitted
    *     and peeled, and the loop returns to (1).
    *
    * After a trim fixpoint every residual node has in- AND out-degree
    * ≥ 1, so the residual contains a cycle and each FW–BW round certifies
    * at least the SCC of the residual's global minimum (no smaller node
    * exists to shadow either label): FW–BW rounds ≤ #non-trivial SCCs —
    * small on real graphs (a few giant SCCs; the DAG condensation fringe
    * that made the old bound O(#SCCs) is exactly what trim eats). Both
    * budgets fail loud when exceeded (the [[kCore]] doctrine: a partial
    * answer is a silently wrong one).
    *
    * Probe discipline: the propagation loops are [[Fixpoint.minDelta]],
    * whose one cut per iteration IS the convergence probe; trim probes
    * are 1-row counts over the already-materialized flag frame. All
    * shuffles carry (node, label) pairs; every iteration is cut by the
    * [[Checkpoints]] policy.
    *
    * Node-type generic like [[connectedComponents]] (`least`/`min`
    * order address strings lexicographically = numerically at fixed
    * width). Self-loops dropped, multiplicity erased; isolated nodes
    * absent (no edge ⇒ no row), matching the SQL closure twin.
    */
  def stronglyConnectedComponents(edges: DataFrame, maxRounds: Int = 50,
                                  maxIters: Int = 100,
                                  checkpointDir: Option[String] = None,
                                  checkpointEvery: Int = 5): DataFrame = {
    val cutRound = new java.util.concurrent.atomic.AtomicInteger(0)
    def cut(df: DataFrame): DataFrame =
      Checkpoints.cut(df, cutRound.incrementAndGet(), checkpointDir, checkpointEvery)
    // min label reachable along `e` from each node (delta propagation);
    // called concurrently for the fwd and bwd directions
    def minReach(nodes: DataFrame, e: DataFrame): DataFrame =
      Fixpoint.minDelta(nodes.withColumn("lab", col("node")),
        delta => e
          .join(delta.select(col("node").as("dst"), col("lab").as("ml")), "dst")
          .groupBy(col("src").as("node")).agg(min("ml").as("ml")),
        "left",
        least(col("lab"), coalesce(col("ml"), col("lab"))),
        coalesce(col("ml") < col("lab"), lit(false)),
        maxIters, "stronglyConnectedComponents", cut)
    val e0 = cut(edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct())
    var active = cut(e0.select(col("src").as("node"))
      .unionByName(e0.select(col("dst").as("node"))).distinct())
    var e = e0
    var parts = List.empty[DataFrame]
    var round = 0
    var done = false
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      while (!done && round < maxRounds) {
        round += 1
        // ---- trim to fixpoint: peel in-degree-0 / out-degree-0 layers ----
        var trimming = true
        var tIt = 0
        while (trimming && tIt < maxIters) {
          tIt += 1
          val deg = e.select(col("src").as("node"), lit(1).as("o"), lit(0).as("i"))
            .unionByName(e.select(col("dst").as("node"), lit(0).as("o"), lit(1).as("i")))
            .groupBy("node").agg(max("o").as("o"), max("i").as("i"))
          val both = cut(deg.where(col("o") === 1 && col("i") === 1).select("node"))
          val trivial = cut(active.join(both, Seq("node"), "left_anti"))
          if (trivial.count() == 0) trimming = false
          else {
            parts ::= trivial.select(col("node"), col("node").as("scc_id"))
            active = both
            e = cut(e
              .join(both.select(col("node").as("src")), Seq("src"), "left_semi")
              .join(both.select(col("node").as("dst")), Seq("dst"), "left_semi")
              .select("src", "dst"))
          }
        }
        if (trimming) sys.error(
          s"stronglyConnectedComponents: trim did not reach fixpoint within " +
            s"maxIters=$maxIters layers (DAG fringe deeper than the budget)")
        if (active.isEmpty) done = true
        else {
          // fwd and bwd are independent propagation loops — overlap them
          val fwdF = scala.concurrent.Future(minReach(active, e))(ec)
          val bwdF = scala.concurrent.Future(minReach(active,
            e.select(col("dst").as("src"), col("src").as("dst"))))(ec)
          val fwd = scala.concurrent.Await.result(fwdF,
            scala.concurrent.duration.Duration.Inf)
          val bwd = scala.concurrent.Await.result(bwdF,
            scala.concurrent.duration.Duration.Inf)
          val labs = cut(fwd.select(col("node"), col("lab").as("f"))
            .join(bwd.select(col("node"), col("lab").as("b")), "node"))
          parts ::= labs.where(col("f") === col("b"))
            .select(col("node"), col("f").as("scc_id"))
          active = cut(labs.where(col("f") =!= col("b")).select("node"))
          e = cut(e
            .join(active.select(col("node").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("node").as("dst")), Seq("dst"), "left_semi")
            .select("src", "dst"))
        }
      }
    } finally { ec.shutdown() }
    if (!done) sys.error(
      s"stronglyConnectedComponents did not peel all SCCs within " +
        s"maxRounds=$maxRounds rounds (pathological SCC chain: raise the budget)")
    parts.reduceOption(_ unionByName _).map(_.orderBy("node")).getOrElse(
      e0.select(col("src").as("node"), col("src").as("scc_id")).where(lit(false)))
  }

  /** Degree ASSORTATIVITY of the directed trust graph: Pearson r between
    * out-degree(src) and in-degree(dst) over the distinct edge list — "do
    * prolific trusters endorse widely-trusted safes (r>0) or spray trust
    * at the fringe (r<0)", the one-scalar mixing-pattern summary next to
    * [[triangleStats]]'s local clustering. Two partial-agg degree counts
    * + two (node)-keyed joinbacks build the per-edge (out_deg, in_deg)
    * frame; the correlation itself delegates to
    * [[Profiler.correlationMatrix]]'s exact-decimal-moment machinery
    * (single agg pass, fixed-order double combine, 12-dp round), so the
    * scalar is oracle-checkable — built-in `corr`'s streaming-update
    * order would differ cross-engine in the low bits.
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .localCheckpoint(true) // feeds both degree counts and the joinback
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("out_deg"))
    val inDeg = e.groupBy("dst").agg(count(lit(1)).as("in_deg"))
    val perEdge = e.join(outDeg, "src").join(inDeg, "dst")
      .select(col("out_deg"), col("in_deg"))
    Profiler.correlationMatrix(perEdge, Seq("out_deg", "in_deg"))
      .select(col("r").as("assortativity"), col("n_pairs").as("n_edges"))
  }

  /** k-CORE decomposition membership: the maximal subgraph where every
    * node keeps degree ≥ k — the standard "prune the fringe" view of a
    * trust/social graph (a 2-core strips leaf chains, higher cores find
    * the dense kernel communities sit in). Direction and multiplicity
    * erased, self-loops dropped, like [[connectedComponents]].
    *
    * The classic iterative peel: drop all nodes with degree < k, recount,
    * repeat to fixpoint. Per round: one partial-agg degree count over
    * (endpoint) keys + two anti-joins keyed on each endpoint — (node)
    * pairs only in every shuffle, never adjacency lists; rounds are
    * bounded by the peel DEPTH (how many fringe layers exist — shallow
    * for social graphs), each cut by the engine's checkpoint policy
    * (eager localCheckpoint, or reliable `checkpoint()` every N rounds
    * via the knob); the convergence probe is a 1-row count. Output:
    * surviving (node, degree-within-core), ordered.
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 100,
            checkpointDir: Option[String] = None,
            checkpointEvery: Int = 5): DataFrame = {
    require(k >= 1, s"k < 1: $k")
    def cutRound(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node")).unionByName(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var e = cutRound(edges.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct(), 0)
    var round = 0
    var done = false
    // the weak set is probed (count) AND consumed by two anti-joins —
    // persist it so each round pays ONE degree aggregation, not three;
    // the previous round's cache releases once the probe has materialized
    // the new chain
    var release: Option[DataFrame] = None
    while (!done && round < maxIters) {
      round += 1
      val weak = degrees(e).where(col("deg") < k).select("node").persist()
      val nWeak = weak.count() // 1-row convergence probe; materializes the cache
      release.foreach(_.unpersist()); release = Some(weak)
      if (nWeak == 0) done = true
      else e = cutRound(
        e.join(weak.select(col("node").as("a")), Seq("a"), "left_anti")
          .join(weak.select(col("node").as("b")), Seq("b"), "left_anti")
          .select("a", "b"), round)
    }
    // an exhausted iteration budget means the output would still hold
    // sub-k nodes — a silently wrong core; fail loud (peel depth can be
    // O(n) on path-like graphs: raise maxIters, don't trust a partial peel)
    if (!done) sys.error(
      s"kCore(k=$k) did not converge within maxIters=$maxIters rounds")
    val out = Checkpoints.cut(degrees(e).orderBy("node"), 0, checkpointDir, 1)
    release.foreach(_.unpersist())
    out
  }

  /** Multi-source BFS: hop distance from a SOURCE SET along directed edges,
    * bounded by `maxHops` — "how far is every safe from the signup cohort",
    * the reachability-depth twin of [[reachCounts]] (which counts, where
    * this labels). Output: (node, dist) for every node reachable in ≤
    * maxHops hops, dist = the MINIMUM hop count (sources themselves at 0).
    *
    * Frontier-style level-synchronous BFS: round k joins only the rows
    * DISCOVERED in round k−1 against the edge list and anti-joins the
    * visited set, so each round's shuffle carries (node) keys — the
    * frontier, not the closure, and never adjacency lists. Work is
    * O(Σ frontier-adjacent edges) = O(E) total across all rounds — the
    * textbook distributed BFS bound; a naive "expand everything each
    * round" spelling re-scans the full reach set per round (quadratic on
    * deep graphs). The visited set is a union of per-round persisted
    * frontiers (each segment cached — the union never recomputes);
    * convergence probes are 1-row counts; lineage is cut per round by the
    * engine's checkpoint policy ([[Checkpoints.cut]]). At 100 TB: hub
    * destinations skew the dst groupBy — the distinct() combines map-side
    * so a hub dedupes before the wire; sources are typically ≪ |V| so
    * round-1 joins broadcast.
    *
    * Input `edges`: (src, dst); `sources`: (node). Self-loops dropped,
    * parallel edges deduped, sources outside the graph surface at dist 0
    * (matching the recursive-CTE oracle's base arm).
    */
  def bfsHops(edges: DataFrame, sources: DataFrame, maxHops: Int = 6,
              checkpointDir: Option[String] = None,
              checkpointEvery: Int = 5): DataFrame = {
    require(maxHops >= 0, s"maxHops < 0: $maxHops")
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    // materialized ONCE (the [[labelPropagation]] `und` discipline): the
    // edge frame joins against EVERY round's frontier, and callers pass a
    // derived pipeline (receipt extraction → currentTrust) that would
    // otherwise re-run per round — measured 4 full re-derivations at
    // maxHops=4 on q_trust_hops. Size valve (r14 VERDICT item 9): this
    // frame is |E|-grain — data-proportional. At cluster scale pass
    // `checkpointDir`, which makes cut() a RELIABLE checkpoint for round
    // 0 (everything chains from it) so executor loss replays from
    // storage instead of restarting the job; the local-arm
    // localCheckpoint is the single-box default only. (Dropping the
    // .persist() double-pin was measured NEUTRAL-to-worse at sf0.1 —
    // the columnar cache pays for itself over per-round re-reads.)
    val e = cut(edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct(), 0).persist()
    var frontier = cut(sources.select("node").distinct(), 0).persist()
    var segments = List(frontier.withColumn("dist", lit(0L)))
    var caches = List(frontier)
    var round = 0
    var done = frontier.count() == 0
    while (!done && round < maxHops) {
      round += 1
      val visited = segments.map(_.select("node")).reduce(_ unionByName _)
      val next = cut(
        frontier.select(col("node").as("src")).join(e, Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti"), round).persist()
      if (next.count() == 0) done = true
      else {
        segments = segments :+ next.withColumn("dist", lit(round.toLong))
        frontier = next
      }
      caches = next :: caches
    }
    // materialize through one final eager cut, then release the per-round
    // caches (the kCore pattern — the returned frame must not depend on
    // blocks this method unpersists)
    val out = Checkpoints.cut(
      segments.reduce(_ unionByName _).orderBy("node"), 0, checkpointDir, 1)
    caches.foreach(_.unpersist())
    e.unpersist()
    out
  }

  /** COMMUNITY detection by synchronous label propagation (Raghavan et al.
    * 2007, made deterministic): each node repeatedly adopts the label held
    * by the MOST of its neighbors, ties broken by the lexicographically
    * smallest label — after a fixed number of rounds, nodes sharing a
    * label form a community. The mesoscale complement of the rest of this
    * file: [[connectedComponents]]/[[stronglyConnectedComponents]] answer
    * "which nodes touch at all", [[kCore]] "where is the dense kernel";
    * this answers "which clusters of safes vouch mostly for EACH OTHER" —
    * the community boundaries a sybil-detection or local-economy view of
    * a trust graph starts from.
    *
    * Determinism contract (what makes an unrolled SQL twin possible where
    * classic LPA — random node order, random tie-breaks — has none):
    * SYNCHRONOUS updates (round t+1 reads only round-t labels), the
    * neighbor-mode tie broken by MIN label, fixed `iters` (sync LPA on a
    * bipartite-ish region can 2-cycle rather than converge, so a fixed
    * budget is the honest spelling — and any fixpoint is preserved:
    * argmax of neighbor labels is unchanged when labels are unchanged).
    * Direction and multiplicity erased, self-loops dropped (an endorsement
    * either way makes the pair community-relevant), matching [[kCore]].
    *
    * Scale shape, per round: one join und⋈labels keyed on the neighbor
    * endpoint (und pre-partitioned on that key ONCE, outside the loop),
    * one (node, label) partial-agg count, then the per-node argmax as a
    * second partial agg — `min(struct(-cnt, label))` realizes (cnt DESC,
    * label ASC) without a window, so no per-node sort and no row_number
    * exchange; every shuffle carries (node, label, count) triples, never
    * adjacency lists. Hub nodes partial-aggregate map-side in both aggs.
    * Rounds are a fixed knob; lineage cut per round ([[Checkpoints.cut]]).
    *
    * Input `edges`: (src, dst). Output: (node, community) — community =
    * the surviving label (a node id), ordered by (community, node).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 5,
                       checkpointDir: Option[String] = None,
                       checkpointEvery: Int = 5): DataFrame = {
    require(iters >= 1, s"iters < 1: $iters")
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    val dir = edges.where(col("src") =!= col("dst")).select("src", "dst")
    // both orientations of every undirected pair, keyed (a = the node
    // being relabeled, b = the neighbor whose label flows in); partitioned
    // on the loop's join key once so 5 rounds reuse one layout
    val und = cut(dir.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(dir.select(col("dst").as("a"), col("src").as("b")))
      .distinct()
      .repartition(col("b")), 0).persist()
    var labels = cut(und.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label")), 0)
    for (it <- 1 to iters) {
      val counts = und
        .join(labels.select(col("node").as("b"), col("label")), "b")
        .groupBy(col("a"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      labels = cut(counts
        .groupBy("a")
        // min(struct(-cnt, label)) == the (cnt DESC, label ASC) argmax,
        // as a partial agg — no window, no per-node sort
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("top"))
        .select(col("a").as("node"), col("top.l").as("label")), it)
    }
    val out = Checkpoints.cut(
      labels.select(col("node"), col("label").as("community"))
        .orderBy("community", "node"), 0, checkpointDir, 1)
    und.unpersist()
    out
  }

  /** Shared HyperBall machinery: per-node HLL register init and the
    * standard estimate (linear-counting small-range correction below
    * 2.5m). Registers are xxhash64-derived → every run bit-deterministic.
    */
  private def hllAlpha(m: Int): Double =
    if (m == 16) 0.673d else if (m == 32) 0.697d else if (m == 64) 0.709d
    else 0.7213d / (1.0d + 1.079d / m)

  /** The node's one nonzero register: bucket = low b hash bits, rho =
    * trailing zeros of the remaining 64−b bits + 1 (w == 0 caps at the
    * suffix width); w > 0 after the unsigned shift so w & −w is safe.
    */
  private[graft] def hllInitRegs(regs: Seq[String], m: Int): Seq[Column] = {
    val b = java.lang.Integer.numberOfTrailingZeros(m)
    val h = xxhash64(col("node"))
    val bucket = pmod(h, lit(m.toLong))
    val w = shiftrightunsigned(h, b)
    val rho = when(w === 0L, lit(64 - b + 1))
      .otherwise(bit_count((w.bitwiseAND(-w)) - 1) + 1).cast("int")
    regs.zipWithIndex.map { case (r, j) =>
      when(bucket === j.toLong, rho).otherwise(lit(0)).as(r)
    }
  }

  /** HLL estimate over arbitrary register-valued columns, with linear
    * counting below 2.5m: near-exact tiny balls, ~1.04/√m error beyond.
    */
  private[graft] def hllEst(regCols: Seq[Column], m: Int): Column = {
    val sumInv = regCols.map(r => pow(lit(2.0d), -r)).reduce(_ + _)
    val zeros = regCols.map(r => when(r === 0, 1).otherwise(0))
      .reduce(_ + _).cast("double")
    val raw = lit(hllAlpha(m) * m * m) / sumInv
    when(raw <= lit(2.5d * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros)).otherwise(raw)
  }

  /** HyperBall (Boldi–Vigna WWW'11; Palmer et al. KDD'02's ANF is the
    * same algebra over FM bitmasks): per-node HyperLogLog registers merged
    * along edges, ONE register sweep serving two outputs.
    *
    *  - The approximate NEIGHBORHOOD FUNCTION NF(t) = Σᵤ |ball(u, t)|, the
    *    number of (source, reachable) pairs within t hops. From it fall
    *    out effective diameter (smallest t with NF(t) ≥ 0.9·NF(∞)),
    *    average distance and connectivity growth. This is the SCALE PATH
    *    next to [[reachCounts]]'s exact frontier sets: the exact operator
    *    shuffles the reachable-set *members* (O(Σ|ball|) rows, quadratic
    *    on a dense giant component), while a sketch here is `numRegs`
    *    small ints (64 B/node at the default) no matter how big the ball.
    *  - Approximate HARMONIC CENTRALITY h(u) = Σ_{v reachable, v≠u}
    *    1/d(u,v), folded as Σ_t (|B(u,t)|−|B(u,t−1)|)/t: each round's ball
    *    GROWTH is the shell of new nodes at exactly distance t, and the
    *    merge projection holds old and new registers in one join row, so
    *    the fold costs no extra pass. Unlike closeness it stays total on
    *    disconnected graphs (unreachable nodes add 0, not ∞). The delta
    *    clamps at 0 where the linear-counting boundary would locally dip
    *    (max-merged registers are monotone, the corrected estimate is not
    *    perfectly so). This scores u by the set u REACHES along src→dst;
    *    classic who-can-reach-u harmonic centrality is the same call on
    *    the reversed edge list, the caller's choice as in the paper.
    *
    * Round t: reg_j(u,t) = max(reg_j(u,t−1), max over out-neighbors).
    * Element-wise max is associative/commutative/idempotent, so partial
    * aggs are exact and the fixpoint is partition-independent; with
    * xxhash64-derived registers the whole run is bit-deterministic. The
    * estimate is the standard HLL pipeline, raw = α·m²/Σ2^{−M_j} with the
    * linear-counting small-range correction m·ln(m/V) (raw ≤ 2.5m, V =
    * empty registers), so tiny balls come out near-exact instead of FM's
    * ~1.8× small-set bias; expected error ~1.04/√numRegs per ball. The
    * sweep stops when no register grew.
    *
    * Per round: one dst-keyed join + per-register max partial agg, then
    * one 1-row stats agg on the just-cut frame that yields NF(t) and the
    * convergence probe together (no separate count job), after which the
    * superseded sketch blocks are released. Orientation note for callers
    * fusing two keys: NF(t) is the SAME quantity on either orientation
    * (summing forward balls over sources ≡ summing backward balls over
    * targets), so running this on the REVERSED edge list keeps classic
    * harmonic semantics while the nf curve still estimates the graph's
    * one neighborhood function (the per-round HLL estimates differ
    * hash-wise from a forward sweep; the estimated quantity does not).
    * HyperBallSpec pins both outputs bit for bit against the standalone
    * sweeps kept in `src/test` as `HyperBallRef`.
    */
  def hyperBallBoth(edges: DataFrame, maxT: Int = 16, numRegs: Int = 16,
                    checkpointDir: Option[String] = None,
                    checkpointEvery: Int = 5): (DataFrame, DataFrame) = {
    require(numRegs >= 16 && (numRegs & (numRegs - 1)) == 0,
      s"numRegs must be a power of two >= 16: $numRegs")
    val m = numRegs
    val spark = edges.sparkSession
    val cutRound = new java.util.concurrent.atomic.AtomicInteger(0)
    def cut(df: DataFrame): DataFrame =
      Checkpoints.cut(df, cutRound.incrementAndGet(), checkpointDir, checkpointEvery)
    val e = cut(edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()).persist()
    val regs = (0 until m).map(j => s"r$j")
    var sketches = cut(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .select((col("node") +: hllInitRegs(regs, m)) :+ lit(0.0d).as("h"): _*))
    val estCol: Column = hllEst(regs.map(col), m)
    def stats(df: DataFrame, chCol: Column): (Double, Long, Long) = {
      val r = df.agg(sum(estCol).as("nf"), sum(chCol.cast("long")).as("ch"),
        count(lit(1)).as("n")).head()
      if (r.isNullAt(0)) (0.0d, 0L, 0L) // empty graph
      else (r.getDouble(0), r.getLong(1), r.getLong(2))
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    val (nf0, _, n) = stats(sketches, lit(0))
    buf += ((0, nf0, n))
    var prevCut = sketches // superseded rounds release (linear-growth guard)
    var t = 0
    var converged = false
    while (!converged && t < maxT) {
      t += 1
      val msgs = e
        .join(sketches.withColumnRenamed("node", "dst").drop("h"), "dst")
        .groupBy(col("src").as("node"))
        .agg(max(col(regs.head)).as(regs.head),
          regs.tail.map(r => max(col(r)).as(r)): _*)
      val mergedRegs = regs.map(r =>
        greatest(col(s"a.$r"), coalesce(col(s"b.$r"), lit(0))))
      val shell = greatest(
        hllEst(mergedRegs, m) - hllEst(regs.map(r => col(s"a.$r")), m),
        lit(0.0d))
      val grew = regs.map(r => col(s"a.$r") <
        coalesce(col(s"b.$r"), lit(0))).reduce(_ || _)
      val merged = cut(sketches.as("a")
        .join(msgs.as("b"), Seq("node"), "left")
        .select((col("node") +:
          mergedRegs.zip(regs).map { case (c, r) => c.as(r) }) ++ Seq(
          (col("a.h") + shell / lit(t.toDouble)).as("h"),
          grew.as("ch")): _*))
      val (nf, ch, _) = stats(merged, col("ch"))
      // merged is materialized (stats just ran on it) → round t−1's blocks
      // are dead; the final round's frame stays (it carries the h column)
      Checkpoints.release(prevCut)
      prevCut = merged
      buf += ((t, nf, ch))
      sketches = merged.drop("ch")
      converged = ch == 0L
    }
    e.unpersist()
    import spark.implicits._
    val rows = if (n == 0L) Seq.empty[(Int, Double, Long)] else buf.toSeq
    val nfCurve = rows.toDF("t", "nf_raw", "changed_nodes")
      .select(col("t"), round(col("nf_raw"), 4).as("nf_est"),
        round(col("nf_raw") / lit(math.max(n, 1L).toDouble), 4).as("avg_ball_est"),
        col("changed_nodes"))
      .orderBy("t")
    val harmonic = sketches
      .select(col("node"), round(col("h"), 4).as("harmonic_est"))
      .orderBy(col("harmonic_est").desc, col("node"))
    (nfCurve, harmonic)
  }

  /** TIME-RESPECTING reachability — earliest arrival over TEMPORAL edges:
    * v is reached when some path uses edges in NON-DECREASING time order
    * (a transfer chain, an infection path, an information cascade — a
    * static closure overcounts: A→B in March then B→C in January is not
    * a flow A→C). Output: every reachable node with its EARLIEST possible
    * arrival time; seeds arrive at `startTs`.
    *
    * Correctness hinge: the earliest arrival DOMINATES — any edge usable
    * from a later arrival (ts ≥ t₂ > t₁) is usable from the earlier one,
    * so keeping only min-arrival per node loses nothing and the delta
    * propagation converges to the exact fixpoint in ≤ temporal-diameter
    * rounds (the same argument as shortest paths, on the time axis).
    *
    * Scale shape: per round ONE frontier⋈edges join on src (the `ts ≥
    * arrival` predicate rides the join, so dead edges drop before the
    * shuffle) + a min partial agg on dst + a full-outer merge of (node,
    * long) pairs — frontier-sized frames, never the closure. The loop is
    * [[Fixpoint.minDelta]]: probe in the merge materialization, per-round
    * Checkpoints cut, loud maxIters valve.
    */
  def temporalReach(edges: DataFrame, seeds: DataFrame,
                    startTs: Long = Long.MinValue, maxIters: Int = 100,
                    checkpointDir: Option[String] = None,
                    checkpointEvery: Int = 5): DataFrame = {
    val cutRound = new java.util.concurrent.atomic.AtomicInteger(0)
    def cut(df: DataFrame): DataFrame =
      Checkpoints.cut(df, cutRound.incrementAndGet(), checkpointDir, checkpointEvery)
    val e = cut(edges.where(col("src") =!= col("dst"))
      .select("src", "dst", "ts").distinct()).persist()
    val arr = Fixpoint.minDelta(
      seeds.select(col("node")).distinct().withColumn("arrival", lit(startTs)),
      delta => e
        .join(delta.withColumnRenamed("node", "src"), "src")
        .where(col("ts") >= col("arrival"))
        .groupBy(col("dst").as("node")).agg(min("ts").as("cand")),
      "full_outer",
      least(coalesce(col("arrival"), col("cand")),
        coalesce(col("cand"), col("arrival"))),
      col("arrival").isNull || coalesce(col("cand") < col("arrival"), lit(false)),
      maxIters, "temporalReach", cut)
    e.unpersist()
    arr.select(col("node"), col("arrival").as("arrival_us")).orderBy("node")
  }

  /** Deterministic RANDOM-WALK table — the DeepWalk/node2vec corpus
    * generator: `walksPerNode` walks of `length` steps from every node
    * with out-edges, each step picking the next neighbor by an md5-keyed
    * index (md5(node:walk:step) mod out-degree over the dst-sorted
    * adjacency). Walk sentences feed skip-gram embedding trainers exactly
    * like text feeds word2vec; the HASH-pick makes the table
    * bit-REPRODUCIBLE on any engine/partitioning (the hash-gate sampling
    * doctrine: no RNG state, the oracle re-derives every pick), at the
    * price of reusing one fixed "randomness" per (node, walk, step) —
    * the right trade for an auditable training corpus.
    *
    * Scale shape: adjacency is indexed ONCE ((src, dst, rk, deg) via a
    * per-src window — bounded by out-degree, the hub caveat of
    * [[widestPaths]] applies) and each step is ONE join pointed at
    * exactly (cur, rk=pick): state frames are (start, walk, node)
    * triples, never neighborhoods; rounds = `length`, not diameter;
    * dead-end nodes simply end their walks early (no self-loop padding —
    * the consumer sees true walk lengths). Output: (start, walk, step,
    * node) — step 0 is the start itself.
    */
  def randomWalks(edges: DataFrame, walksPerNode: Int = 2, length: Int = 4,
                  checkpointDir: Option[String] = None,
                  checkpointEvery: Int = 5): DataFrame = {
    require(walksPerNode >= 1 && length >= 1,
      s"walksPerNode/length < 1: $walksPerNode/$length")
    val spark = edges.sparkSession
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    import org.apache.spark.sql.expressions.Window
    val e = edges.where(col("src") =!= col("dst")).select("src", "dst").distinct()
    val adj = cut(e.select(col("src"), col("dst"),
      row_number().over(Window.partitionBy("src").orderBy("dst"))
        .cast("long").as("rk"),
      count(lit(1)).over(Window.partitionBy("src")).as("deg")), 0).persist()
    var state = cut(adj.select("src").distinct()
      .crossJoin(spark.range(walksPerNode).select(col("id").as("walk")))
      .select(col("src").as("start"), col("walk"),
        lit(0).as("step"), col("src").as("node")), 0)
    var acc = state
    for (i <- 1 to length) {
      val pick = pmod(
        conv(substring(md5(concat_ws(":",
          col("node"), col("walk"), lit(i))), 1, 8), 16, 10).cast("long"),
        col("deg")) + 1
      val next = state.as("s")
        .join(adj.as("a"), col("s.node") === col("a.src"))
        .where(col("a.rk") === pick)
        .select(col("s.start").as("start"), col("s.walk").as("walk"),
          lit(i).as("step"), col("a.dst").as("node"))
      state = cut(next, i)
      acc = acc.unionByName(state)
    }
    adj.unpersist()
    acc.orderBy("start", "walk", "step")
  }

  /** Approximate BETWEENNESS centrality by sampled-source Brandes (Brandes
    * 2001; the sampling estimator is Brandes–Pich 2007) — the "who sits on
    * the short paths between others" complement of the centrality family:
    * PageRank/HITS rank by endorsement mass, harmonic by closeness; this
    * ranks the BROKERS whose removal lengthens routes — on a trust graph,
    * the transitive-transfer chokepoints.
    *
    * All sampled sources run SIMULTANEOUSLY, state keyed (s, node):
    *
    *  - forward: level-synchronous BFS accumulating σ(s,v) = #shortest
    *    s→v paths (exact decimal(38,0) sums — path counts overflow longs
    *    on dense graphs). Round d's shuffle carries the (s, frontier) pairs
    *    and their adjacent edges, never adjacency lists: O(K·E) total.
    *  - backward: the dependency accumulation δ(s,v) = Σ_{w∈succ(v)}
    *    σ(v)/σ(w)·(1+δ(w)), one level per round from the deepest frontier
    *    back to the sources. Per-(s,v) sums are decimal(38,18) over
    *    deterministic double addends, so the result is bit-stable under
    *    any partitioning (the SGNS/HITS exact-sum discipline); δ itself is
    *    the standard double-precision estimate.
    *
    * Output: (node, betweenness, n_sources) for every node with a positive
    * score — betweenness = Σ_s δ(s, node) over the K sampled sources
    * (sources excluded from their own sums, the Brandes v≠s rule),
    * n_sources = how many of those sources contributed a POSITIVE
    * dependency sum (computed uniformly — zero-delta rows never enter the
    * aggregation, whatever level the node was reached at), rounded
    * to 9 decimals; multiply by |V|/K for the unbiased full-graph estimate.
    * Rounds = 2·(BFS depth reached, capped at maxDepth) — the truncated-
    * Brandes cap bounds work on small-world graphs exactly like [[bfsHops]]'
    * maxHops; paths longer than maxDepth contribute nothing (documented
    * approximation, standard for k-betweenness).
    *
    * Input `edges`: (src, dst) directed; `sources`: (node) — pass a
    * deterministic hash-sampled subset (the q_trust_betweenness key uses
    * the xxhash64-min-K rule) or every node for the exact measure.
    */
  def betweenness(edges: DataFrame, sources: DataFrame, maxDepth: Int = 8,
                  checkpointDir: Option[String] = None,
                  checkpointEvery: Int = 5): DataFrame = {
    require(maxDepth >= 1, s"maxDepth < 1: $maxDepth")
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    val e = cut(edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct(), 0).persist()
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    // forward: levels(d) = (s, v, sigma) for nodes FIRST reached at dist d
    var levels = Vector(cut(sources.select(col("node").as("s")).distinct()
      .select(col("s"), col("s").as("v"), d38(lit(1)).as("sigma")), 0).persist())
    var caches = levels.toList
    // ONE incrementally-maintained visited frame (round-11 verdict item 6):
    // re-reducing `levels` each round builds O(depth²) union nodes into the
    // plan — scan cost was already right (Σ|levels| = |visited|), but the
    // plan itself must stay O(depth). cut() truncates the union chain's
    // lineage on the checkpoint cadence.
    var visited = cut(levels.head.select("s", "v"), 0).persist()
    caches = visited :: caches
    var d = 0
    var frontierEmpty = levels.head.isEmpty
    while (!frontierEmpty && d < maxDepth) {
      d += 1
      val nxt = cut(
        levels.last.join(e, col("v") === col("src"))
          .select(col("s"), col("dst").as("v"), col("sigma"))
          .join(visited, Seq("s", "v"), "left_anti")
          .groupBy("s", "v").agg(sum(col("sigma")).as("sigma")), d).persist()
      caches = nxt :: caches
      if (nxt.isEmpty) { frontierEmpty = true; d -= 1 }
      else {
        levels = levels :+ nxt
        visited = cut(visited.unionByName(nxt.select("s", "v")), d).persist()
        caches = visited :: caches
      }
    }
    // backward: delta(d) = (s, v, delta); the deepest level has no
    // successors, so its delta is 0 — start the accumulation one level up
    val dExact = (c: Column) => c.cast("decimal(38,18)")
    var delta = cut(levels(levels.size - 1)
      .select(col("s"), col("v"), lit(0.0).as("delta")), 0).persist()
    caches = delta :: caches
    // contribs collects ONLY the nextDelta frames (strictly positive
    // dependency sums): the deepest level's all-zero frame used to be
    // included, which bumped n_sources for nodes reached at the truncation
    // depth but not for zero-delta interior nodes — n_sources is now
    // uniformly "sampled sources with a POSITIVE dependency contribution
    // to the node" (ADVICE r11; the zero frame contributed nothing to the
    // betweenness sum either way)
    val contribs = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (dd <- (levels.size - 2) to 0 by -1) {
      // successors of level-dd nodes are exactly the level-(dd+1) nodes one
      // edge away (shortest-path DAG edges); sum their weighted dependency
      val succ = levels(dd + 1).as("w")
        .join(delta.as("dw"), col("w.s") === col("dw.s") && col("w.v") === col("dw.v"))
        .select(col("w.s").as("s"), col("w.v").as("w"),
          col("w.sigma").as("sigma_w"), col("dw.delta").as("delta_w"))
      val nextDelta = cut(
        succ.join(e, col("w") === col("dst"))
          .select(col("s"), col("src").as("v"), col("sigma_w"), col("delta_w"))
          .join(levels(dd).select(col("s"), col("v"), col("sigma").as("sigma_v")),
            Seq("s", "v"))
          .select(col("s"), col("v"),
            dExact(col("sigma_v").cast("double") / col("sigma_w").cast("double") *
              (lit(1.0) + col("delta_w"))).as("dpart"))
          .groupBy("s", "v").agg(sum(col("dpart")).cast("double").as("delta")),
        levels.size - 1 - dd).persist()
      caches = nextDelta :: caches
      // the NEXT round's successor frame must cover EVERY level-dd node:
      // ones missing from nextDelta have no successors in the truncated
      // DAG — their delta is 0, but their (1 + 0) contribution to THEIR
      // predecessors is real, so they need explicit zero rows
      val levelDelta = cut(levels(dd).select(col("s"), col("v"))
        .join(nextDelta, Seq("s", "v"), "left")
        .select(col("s"), col("v"), coalesce(col("delta"), lit(0.0)).as("delta")),
        levels.size - 1 - dd).persist()
      caches = levelDelta :: caches
      delta = levelDelta
      if (dd >= 1) contribs += nextDelta // dd = 0 rows are the sources (v = s)
    }
    val bc =
      if (contribs.isEmpty)
        // empty-output branch keeps the node column's REAL type (string
        // addresses vs long ids) by projecting off the seed frame
        levels.head.select(col("v").as("node"), lit(0.0).as("betweenness"),
          lit(0L).as("n_sources")).limit(0)
      else contribs.reduce(_ unionByName _)
        .where(col("s") =!= col("v")) // Brandes v ≠ s
        .groupBy(col("v").as("node"))
        .agg(round(sum(dExact(col("delta"))).cast("double"), 9).as("betweenness"),
          count_distinct(col("s")).as("n_sources"))
        .where(col("betweenness") > 0.0)
        .orderBy("node")
    val out = Checkpoints.cut(bc, 0, checkpointDir, 1)
    caches.foreach(Checkpoints.release)
    Checkpoints.release(e)
    out
  }
}
