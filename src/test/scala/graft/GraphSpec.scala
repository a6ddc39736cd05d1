package graft

import graft.operators.Graph
import org.apache.spark.sql.functions.col

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("widestPaths: hand-computed diamond with a bottleneck") {
    // a->b(5)->d(3), a->c(2)->d(10), d->e(7); plus a parallel a->b(1) edge
    val edges = Seq(
      ("a", "b", 5L), ("a", "b", 1L), ("b", "d", 3L),
      ("a", "c", 2L), ("c", "d", 10L), ("d", "e", 7L)
    ).toDF("src", "dst", "cap")
    val r = Graph.widestPaths(edges, maxHops = 3).as[(String, String, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(r(("a", "b")) == 5L) // parallel edges reduce to max
    assert(r(("a", "d")) == 3L) // min(5,3)=3 beats min(2,10)=2
    assert(r(("a", "e")) == 3L) // 3-hop a->b->d->e
    assert(r(("c", "e")) == 7L) // min(10,7)
    assert(!r.contains(("e", "a")))
  }

  test("widestPaths: cycles don't create self-pairs and don't inflate caps") {
    val edges = Seq(("a", "b", 4L), ("b", "a", 9L), ("b", "c", 2L))
      .toDF("src", "dst", "cap")
    val r = Graph.widestPaths(edges, maxHops = 4).as[(String, String, Long)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(!r.contains(("a", "a")) && !r.contains(("b", "b")))
    assert(r(("a", "c")) == 2L)
    assert(r(("a", "b")) == 4L) // the a->b->a->b walk can't beat the edge
  }

  test("widestPaths matches brute-force walk enumeration on a random graph") {
    val rnd = new scala.util.Random(7)
    val n = 12
    val edges = (for {
      s <- 0 until n; t <- 0 until n
      if s != t && rnd.nextInt(100) < 25
    } yield (s.toString, t.toString, (rnd.nextInt(20) + 1).toLong)).toSeq
    val maxHops = 3
    // brute force: widest-path Bellman-Ford on the driver
    val best = scala.collection.mutable.Map.empty[(String, String), Long]
    edges.foreach { case (s, t, c) =>
      best((s, t)) = math.max(best.getOrElse((s, t), Long.MinValue), c)
    }
    val base = best.toMap
    for (_ <- 2 to maxHops) {
      val snapshot = best.toMap
      for (((s, w), c1) <- snapshot; ((w2, t), c2) <- base if w2 == w && s != t) {
        val cand = math.min(c1, c2)
        if (cand > best.getOrElse((s, t), Long.MinValue)) best((s, t)) = cand
      }
    }
    val got = Graph.widestPaths(edges.toDF("src", "dst", "cap"), maxHops)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(got == best.toMap)
  }

  test("widestPaths frontierCap: beam is a sound under-approximation and exact when wide enough") {
    val rnd = new scala.util.Random(11)
    val n = 14
    // dense-ish hub graph: node 0 connects everywhere (the densification case)
    val edges = ((for {
      s <- 0 until n; t <- 0 until n
      if s != t && (s == 0 || t == 0 || rnd.nextInt(100) < 30)
    } yield (s.toString, t.toString, (rnd.nextInt(20) + 1).toLong))).toSeq
    val df = edges.toDF("src", "dst", "cap")
    val exact = Graph.widestPaths(df, maxHops = 3)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val capped = Graph.widestPaths(df, maxHops = 3, frontierCap = 4)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // subset of exact pairs, never overpromising capacity (the safe
    // direction for a pathfinder prune)
    capped.foreach { case (pair, c) =>
      assert(exact.contains(pair) && c <= exact(pair),
        s"capped $pair=$c vs exact ${exact.get(pair)}")
    }
    // per-source frontier bound holds on the OUTPUT too
    capped.keys.groupBy(_._1).foreach { case (_, ps) => assert(ps.size <= 4) }
    // a beam at least as wide as the closure's max per-source fan-out is exact
    val wide = Graph.widestPaths(df, maxHops = 3, frontierCap = n)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(wide == exact)
    // deterministic under repartition (ties cut by dst)
    val capped2 = Graph.widestPaths(df.repartition(7), maxHops = 3, frontierCap = 4)
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(capped2 == capped)
  }

  test("reachCounts aggregates the closure per source") {
    val edges = Seq(("a", "b", 4L), ("b", "c", 9L)).toDF("src", "dst", "cap")
    val r = Graph.reachCounts(edges, maxHops = 2).as[(String, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(("a")) == ((2L, 4L))) // reaches b(4) and c(min(4,9)=4)
    assert(r(("b")) == ((1L, 9L)))
  }

  test("pageRank: cycle is uniform, dangling mass drops, hand-checked values") {
    // 3-cycle: perfectly symmetric, no dangling → every iteration preserves
    // the uniform 1/3 exactly
    val cyc = Seq(("a", "b", 1L), ("b", "c", 1L), ("c", "a", 1L))
      .toDF("src", "dst", "cap")
    val rc = Graph.pageRank(cyc, iters = 5)
      .as[(String, Double)].collect().toMap
    val third = BigDecimal(1.0 / 3).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rc.values.forall(_ == third))

    // a→b with b dangling, one iteration: p0 = (0.5, 0.5);
    // r(a) = 0.15/2 = 0.075 (nothing points at a),
    // r(b) = 0.075 + 0.85·(0.5/1) = 0.5; b's own mass evaporates
    val dang = Seq(("a", "b", 1L)).toDF("src", "dst", "cap")
    val rd = Graph.pageRank(dang, iters = 1).as[(String, Double)].collect().toMap
    assert(rd == Map("a" -> 0.075, "b" -> 0.5))
  }

  test("pageRank: hub of a star collects the rank; deterministic under repartition") {
    val edges = ((1 to 6).map(i => (s"leaf$i", "hub", 1L)) ++
      Seq(("hub", "leaf1", 1L))).toDF("src", "dst", "cap")
    val r = Graph.pageRank(edges, iters = 5).as[(String, Double)].collect()
    assert(r.head._1 == "hub") // output is rank-descending
    // hub > 2× the best leaf (leaf1 gets ALL the hub's mass back, so the
    // gap is bounded by damping, not by the fan-in)
    assert(r.head._2 > r.tail.map(_._2).max * 2)
    val r2 = Graph.pageRank(edges.repartition(7), iters = 5)
      .as[(String, Double)].collect()
    assert(r.toSeq == r2.toSeq)
  }

  test("personalizedPageRank: restart mass stays near the seed; unreachable component scores 0") {
    // two disjoint 2-cycles; seed in the first → the second gets exactly 0
    val edges = Seq(("a", "b", 1L), ("b", "a", 1L), ("x", "y", 1L), ("y", "x", 1L))
      .toDF("src", "dst", "cap")
    val seeds = Seq("a").toDF("node")
    val r = Graph.personalizedPageRank(edges, seeds, iters = 5)
      .as[(String, Double)].collect().toMap
    assert(r("x") == 0.0 && r("y") == 0.0)
    // on the seed's cycle the walk alternates: after an ODD number of
    // iterations the damped flow sits on b; both positive, total ≤ 1
    assert(r("b") > r("a") && r("a") > 0.0)
    assert(r.values.sum <= 1.0 + 1e-9)
    // hand-check one iteration: p0 = (a:1, b:0);
    // r(a) = 0.15·1 + 0.85·(0/1) = 0.15; r(b) = 0 + 0.85·(1/1) = 0.85
    val one = Graph.personalizedPageRank(edges, seeds, iters = 1)
      .as[(String, Double)].collect().toMap
    // (1.0−0.85)·1 = 0.15000000000000002 pre-round; round-12 → 0.15
    assert(one("a") == 0.15 && one("b") == 0.85)
  }

  test("personalizedPageRank: all-nodes seed ≈ global pageRank; repartition-deterministic") {
    val edges = ((1 to 6).map(i => (s"leaf$i", "hub", 1L)) ++
      Seq(("hub", "leaf1", 1L))).toDF("src", "dst", "cap")
    val all = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val ppr = Graph.personalizedPageRank(edges, all, iters = 5)
      .as[(String, Double)].collect().toMap
    val pr = Graph.pageRank(edges, iters = 5).as[(String, Double)].collect().toMap
    // (1−d)/n vs (1−d)·(1/n) differ by ulps pre-rounding; round-12 keeps
    // them within one 1e-12 step
    assert(pr.keySet == ppr.keySet)
    pr.foreach { case (n, v) => assert(math.abs(v - ppr(n)) <= 1e-12) }
    val again = Graph.personalizedPageRank(edges.repartition(7), all, iters = 5)
      .as[(String, Double)].collect().toMap
    assert(again == ppr)
    // seeds outside the graph are dropped; an empty intersection throws
    val alien = Seq("nope").toDF("node")
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, alien, iters = 1)
    }
  }

  test("triangleStats: K4 + pendant, direction/multiplicity/self-loops erased") {
    val edges = Seq(
      ("a", "b"), ("b", "a"), // reversed duplicate
      ("a", "c"), ("a", "d"),
      ("b", "c"), ("b", "d"), ("c", "d"),
      ("c", "d"),             // exact duplicate
      ("a", "e"),             // pendant
      ("d", "d")              // self-loop
    ).toDF("src", "dst")
    val r = Graph.triangleStats(edges)
      .as[(String, Long, Long, Double)].collect().toSeq
    // K4: every node in 3 triangles, clustering 1; a also holds the
    // pendant → deg 4, clustering 2·3/(4·3) = 0.5; e: deg 1 → 0
    assert(r == Seq(
      ("a", 4L, 3L, 0.5),
      ("b", 3L, 3L, 1.0),
      ("c", 3L, 3L, 1.0),
      ("d", 3L, 3L, 1.0),
      ("e", 1L, 0L, 0.0)))
    assert(r.map(_._3).sum == 4 * 3) // 4 triangles × 3 corners
  }

  test("triangleStats matches brute force; deterministic under repartition") {
    val edges = (0 until 400)
      .map(i => (((i * 37) % 30).toLong, ((i * 61 + 7) % 30).toLong))
      .toDF("src", "dst")
    val r = Graph.triangleStats(edges).as[(Long, Long, Long, Double)].collect()
    val und = edges.as[(Long, Long)].collect().filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
    val nodes = und.toSeq.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    def adj(x: Long, y: Long) = und.contains((math.min(x, y), math.max(x, y)))
    val wantTri = nodes.map { n =>
      val nb = nodes.filter(m => m != n && adj(n, m))
      n -> nb.combinations(2).count { case Seq(x, y) => adj(x, y) }.toLong
    }.toMap
    assert(r.map(x => x._1 -> x._3).toMap == wantTri)
    assert(r.map(x => x._1 -> x._2).toMap ==
      nodes.map(n => n -> nodes.count(m => m != n && adj(n, m)).toLong).toMap)
    val r7 = Graph.triangleStats(edges.repartition(7))
      .as[(Long, Long, Long, Double)].collect()
    assert(r.toSeq == r7.toSeq)
  }

  test("degreeStats: out/in/reciprocal counts, isolated self-loop node absent") {
    val edges = Seq(
      ("a", "b"), ("b", "a"),            // mutual pair
      ("a", "c"), ("c", "d"), ("d", "c"), // mutual pair c↔d
      ("a", "c"),                        // duplicate collapses
      ("e", "e")                         // self-loop only → node dropped
    ).toDF("src", "dst")
    val r = Graph.degreeStats(edges)
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(r == Seq(
      ("a", 2L, 1L, 1L),
      ("b", 1L, 1L, 1L),
      ("c", 1L, 2L, 1L),
      ("d", 1L, 1L, 1L)))
  }

  test("recommendEdges: hand-computed Adamic-Adar on a path + hub") {
    // path 1-2-3 plus hub 0 adjacent to 1,2,3: deg(0)=3 deg(1)=2 deg(2)=3 deg(3)=2
    // non-adjacent pairs: (1,3) via middles {0,2}
    val edges = Seq((1L, 2L), (2L, 3L), (0L, 1L), (0L, 2L), (0L, 3L))
      .toDF("src", "dst")
    val r = Graph.recommendEdges(edges, topK = 5)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    def rnd(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val aa13 = rnd(Seq(3, 3).map(d => BigDecimal(rnd(1.0 / math.log(d)))).sum.toDouble)
    assert(r == Seq((1L, 3L, 2L, aa13, 1), (3L, 1L, 2L, aa13, 1)))
  }

  test("recommendEdges: middleCap drops mega-hub wedges; topK cuts per node") {
    // star: hub h adjacent to 0..9; all leaf pairs share only middle h
    val star = (0L until 10L).map(i => (100L, i)).toDF("src", "dst")
    val capped = Graph.recommendEdges(star, topK = 3, middleCap = 5)
    assert(capped.count() == 0) // hub excluded as middle → no candidates
    val uncapped = Graph.recommendEdges(star, topK = 3)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    // every leaf gets exactly topK suggestions, ranked by tie-break id
    assert(uncapped.count(_._1 == 0L) == 3)
    assert(uncapped.filter(_._1 == 0L).map(_._2) == Seq(1L, 2L, 3L))
    assert(uncapped.forall(_._5 <= 3))
  }

  test("connectedComponents: islands labeled by min node, direction erased") {
    // two components: {a,b,c} (b->a, b->c: direction must not matter) and
    // {x,y}; a self-loop on z alone contributes NO component row
    val edges = Seq(("b", "a"), ("b", "c"), ("x", "y"), ("z", "z"))
      .toDF("src", "dst")
    val r = Graph.connectedComponents(edges)
      .as[(String, String)].collect().toMap
    assert(r == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("connectedComponents matches brute-force reachability on a hashed graph") {
    val rng = new scala.util.Random(13)
    val pairs = Seq.fill(30)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val got = Graph.connectedComponents(pairs.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    // brute force: union-find over the undirected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(n => n -> find(n)).toMap
    // min-label CC and min-root union-find agree: both name the min member
    val wantMin = want.groupBy(_._2).flatMap { case (_, m) =>
      val members = m.keys.toSet; members.map(_ -> members.min)
    }
    assert(got == wantMin && got.nonEmpty)
  }

  test("recommendEdges matches brute force on a hashed graph") {
    // NOTE: an affine pair (13i, 7i+3) mod 20 degenerates to a perfect
    // matching (src+dst ≡ 3) — zero wedges; a seeded random graph is dense
    val rng = new scala.util.Random(5)
    val pairs = Seq.fill(60)((rng.nextInt(16).toLong, rng.nextInt(16).toLong))
    val edges = pairs.toDF("src", "dst")
    val got = Graph.recommendEdges(edges, topK = 4)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    val und = pairs
      .filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    val nodes = und.flatMap(p => Seq(p._1, p._2)).distinct
    def adj(x: Long, y: Long) = und.contains((math.min(x, y), math.max(x, y)))
    def deg(n: Long) = nodes.count(m => m != n && adj(n, m))
    def rnd(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cand = for {
      u <- nodes; v <- nodes
      if u < v && !adj(u, v)
      mids = nodes.filter(w => w != u && w != v && adj(w, u) && adj(w, v))
      if mids.nonEmpty
    } yield (u, v, mids.size.toLong,
      rnd(mids.map(w => BigDecimal(rnd(1.0 / math.log(deg(w).toDouble)))).sum.toDouble))
    val want = cand.flatMap(c => Seq((c._1, c._2, c._3, c._4), (c._2, c._1, c._3, c._4)))
      .groupBy(_._1).flatMap { case (n, rs) =>
        rs.sortBy(r => (-r._4, -r._3, r._2)).take(4).zipWithIndex
          .map { case (r, i) => (r._1, r._2, r._3, r._4, i + 1) }
      }.toSeq.sortBy(r => (r._1, r._5))
    assert(got == want && got.nonEmpty)
    val r7 = Graph.recommendEdges(edges.repartition(7), topK = 4)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    assert(r7 == got)
  }

  test("kCore: triangle survives a 2-core, tails peel layer by layer, K4 survives 3-core") {
    // triangle (1,2,3) with a chain 3-4-5 hanging off, plus a self-loop
    // and a duplicate/reversed edge that must not inflate degrees
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 5L), (2L, 1L)).toDF("src", "dst")
    val core2 = graft.operators.Graph.kCore(edges, k = 2)
      .as[(Long, Long)].collect().toMap
    assert(core2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core2")
    // the triangle's members only have degree 2 → an empty 3-core
    assert(graft.operators.Graph.kCore(edges, k = 3).collect().isEmpty)
    // K4 IS a 3-core
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)).toDF("src", "dst")
    val core3 = graft.operators.Graph.kCore(k4, k = 3).as[(Long, Long)].collect().toMap
    assert(core3 == (1L to 4L).map(_ -> 3L).toMap)
  }

  test("kCore: brute-force peel parity on a hashed random graph, knob-independent") {
    val rng = new scala.util.Random(21)
    val raw = List.fill(160)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    val edges = raw.toDF("src", "dst")
    // driver-side reference peel over the simple undirected graph
    var adj = raw.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val k = 3
    var changed = true
    while (changed) {
      val deg = adj.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val weak = deg.filter(_._2 < k).keySet
      changed = weak.nonEmpty
      if (changed) adj = adj.filter { case (a, b) => !weak(a) && !weak(b) }
    }
    val expected = adj.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = graft.operators.Graph.kCore(edges, k).as[(Long, Long)].collect().toMap
    assert(got == expected)
    // reliable-checkpoint knob must not change the answer
    val dir = tempDir("graft-kcore-ck")
    val withKnob = graft.operators.Graph.kCore(edges, k,
      checkpointDir = Some(dir), checkpointEvery = 2).as[(Long, Long)].collect().toMap
    assert(withKnob == expected)
    // empty input is total
    assert(graft.operators.Graph.kCore(
      edges.where(org.apache.spark.sql.functions.lit(false)), k).collect().isEmpty)
  }

  test("bfsHops: hand-checked levels, direction respected, hop bound cuts") {
    // a->b->c->d chain plus shortcut a->c; x->a makes x depth-only-upstream
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "a"))
      .toDF("src", "dst")
    val sources = Seq("a").toDF("node")
    val r = Graph.bfsHops(edges, sources, maxHops = 6)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L)) // x unreachable
    // hop bound truncates the deepest level
    val r1 = Graph.bfsHops(edges, sources, maxHops = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 == Map("a" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("bfsHops: multi-source min distance, cycles converge, off-graph seeds at 0") {
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("z", "c"))
      .toDF("src", "dst")
    val sources = Seq("a", "z", "ghost").toDF("node")
    val r = Graph.bfsHops(edges, sources, maxHops = 10)
      .as[(String, Long)].collect().toMap
    // c: min(a->b->c = 2, z->c = 1) = 1; the a<->b cycle terminates
    assert(r == Map("a" -> 0L, "z" -> 0L, "ghost" -> 0L, "b" -> 1L, "c" -> 1L))
  }

  test("bfsHops matches brute-force Floyd-style hop closure on a random graph") {
    val rnd = new scala.util.Random(11)
    val n = 14
    val edges = (0 until 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val sources = Seq(0L, 5L)
    val maxHops = 4
    // brute force BFS per source on the driver
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    def bfs(s: Long): Map[Long, Long] = {
      var dist = Map(s -> 0L)
      var frontier = Set(s)
      for (k <- 1 to maxHops if frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
          .filterNot(dist.contains)
        dist ++= next.map(_ -> k.toLong)
        frontier = next
      }
      dist
    }
    val expected = sources.map(bfs).reduce { (m1, m2) =>
      (m1.keySet ++ m2.keySet).map(k =>
        k -> math.min(m1.getOrElse(k, Long.MaxValue), m2.getOrElse(k, Long.MaxValue))).toMap
    }
    val got = Graph.bfsHops(edges.toDF("src", "dst"), sources.toDF("node"), maxHops)
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    // reliable-checkpoint knob must not change the answer
    val dir = tempDir("graft-bfs-ck")
    val withKnob = Graph.bfsHops(edges.toDF("src", "dst"), sources.toDF("node"),
      maxHops, checkpointDir = Some(dir), checkpointEvery = 2)
      .as[(Long, Long)].collect().toMap
    assert(withKnob == expected)
    // empty sources and empty edges are total
    assert(Graph.bfsHops(edges.toDF("src", "dst"),
      Seq.empty[String].toDF("node"), maxHops).collect().isEmpty)
    assert(Graph.bfsHops(Seq.empty[(String, String)].toDF("src", "dst"),
      Seq("a").toDF("node"), maxHops).as[(String, Long)].collect().toMap == Map("a" -> 0L))
  }

  // ---- degreeAssortativity ----------------------------------------------

  test("degreeAssortativity: hand Pearson value, constants null, empty total") {
    // per-edge (out_deg, in_deg): (2,2), (2,1), (1,2) -> r = -0.5
    val edges = Seq(("a", "b"), ("a", "c"), ("d", "b"))
    val r = Graph.degreeAssortativity(edges.toDF("src", "dst"))
      .select("assortativity", "n_edges").as[(Double, Long)].head()
    assert(r == ((-0.5, 3L)))
    // self-loops and duplicate edges are erased before degrees
    val noisy = edges ++ Seq(("a", "a"), ("a", "b"))
    val r2 = Graph.degreeAssortativity(noisy.toDF("src", "dst"))
      .select("assortativity", "n_edges").as[(Double, Long)].head()
    assert(r2 == ((-0.5, 3L)))
    // constant degree column -> documented null r
    val star = Seq(("h", "x"), ("h", "y"), ("h", "z")).toDF("src", "dst")
    val rs = Graph.degreeAssortativity(star).select("assortativity")
      .collect().head
    assert(rs.isNullAt(0))
    // empty edge list: one row, null r, zero edges (agg over empty)
    val empty = Graph.degreeAssortativity(
      Seq.empty[(String, String)].toDF("src", "dst"))
      .select("assortativity", "n_edges").collect().head
    assert(empty.isNullAt(0) && empty.getLong(1) == 0L)
  }

  // ---- stronglyConnectedComponents --------------------------------------

  /** Driver-side brute force: scc_id(u) = min of u and every mutually
    * reachable v, via per-node BFS closures (self-loops dropped like the
    * operator).
    */
  private def bruteScc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val adj = e.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def reach(s: Long): Set[Long] = {
      var seen = Set(s); var frontier = Set(s)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- seen
        seen ++= next; frontier = next
      }
      seen
    }
    val r = nodes.map(n => n -> reach(n)).toMap
    nodes.map(u => u ->
      (r(u).filter(v => r(v).contains(u)) + u).min).toMap
  }

  test("scc: cycles collapse, DAG nodes stay singletons, direction matters") {
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),  // 3-cycle -> scc 1
      (5L, 6L), (6L, 5L),            // 2-cycle -> scc 5
      (3L, 5L),                      // bridge A->B only: no merge
      (7L, 1L),                      // tree node into the cycle
      (4L, 9L),                      // plain DAG edge: two singletons
      (8L, 8L))                      // self-loop only: dropped entirely
    val got = Graph.stronglyConnectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 4L -> 4L, 9L -> 9L))
    // one-directional edge alone never forms a component
    val oneWay = Graph.stronglyConnectedComponents(
      Seq((1L, 2L)).toDF("src", "dst")).as[(Long, Long)].collect().toMap
    assert(oneWay == Map(1L -> 1L, 2L -> 2L))
  }

  test("scc: multi-round peeling and knob-independence") {
    // round 1 can only certify {1} (node 1 shadows the cycle's bwd label);
    // the {2,3} cycle needs the second peel
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L))
    val expected = Map(1L -> 1L, 2L -> 2L, 3L -> 2L)
    val got = Graph.stronglyConnectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
    val dir = tempDir("graft-scc-ck")
    val withKnob = Graph.stronglyConnectedComponents(edges.toDF("src", "dst"),
      checkpointDir = Some(dir), checkpointEvery = 2)
      .as[(Long, Long)].collect().toMap
    assert(withKnob == expected)
  }

  test("scc: brute-force parity on a pseudo-random functional-ish graph") {
    // two out-edges per node from affine maps: cycles + merging trees
    val edges = (0L until 60L).flatMap(u =>
      Seq((u, (u * 7 + 13) % 60), (u, (u * 11 + 5) % 60)))
    val got = Graph.stronglyConnectedComponents(edges.toDF("src", "dst"),
      maxRounds = 100).as[(Long, Long)].collect().toMap
    assert(got == bruteScc(edges))
  }

  test("scc: label propagation past maxIters fails loud, naming the budget") {
    // a directed 8-ring trims nothing and needs 8 label rounds a direction
    val ring = (0L until 8L).map(u => (u, (u + 1) % 8))
    val err = intercept[RuntimeException](Graph.stronglyConnectedComponents(
      ring.toDF("src", "dst"), maxIters = 3).collect())
    assert(err.getMessage.contains("maxIters=3"), err.getMessage)
  }

  test("scc: string node ids and empty input are total") {
    val edges = Seq(("0xaa", "0xbb"), ("0xbb", "0xaa"), ("0xbb", "0xcc"))
    val got = Graph.stronglyConnectedComponents(edges.toDF("src", "dst"))
      .as[(String, String)].collect().toMap
    assert(got == Map("0xaa" -> "0xaa", "0xbb" -> "0xaa", "0xcc" -> "0xcc"))
    val empty = Graph.stronglyConnectedComponents(
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("node", "scc_id"))
  }

  // ---- pageRankWeighted ---------------------------------------------------

  test("pageRankWeighted: weight-proportional flow, hand values, uniform ≈ plain") {
    // one endorser splitting 90/10: after 1 iter a gets 9× b's flow
    val e = Seq(("u", "a", 90L), ("u", "b", 10L)).toDF("src", "dst", "cap")
    val r1 = Graph.pageRankWeighted(e, iters = 1)
      .as[(String, Double)].collect().toMap
    // r0 = round(1/3,12); c(a) = round(r0·90/100,12) = 0.3;
    // c(b) = 0.033333333333; r = round(0.05 + 0.85·c, 12)
    assert(r1("a") == 0.305 && r1("b") == 0.078333333333 && r1("u") == 0.05)
    // uniform weights reproduce plain pageRank within the per-term
    // rounding slack (plain sums unrounded doubles; weighted rounds each
    // term to 12 dp first)
    val g = (0 until 40).map(i => (s"n${(i * 7 + 3) % 11}", s"n${(i * 5 + 2) % 11}", 7L))
      .filter(p => p._1 != p._2).toDF("src", "dst", "cap")
    val plain = Graph.pageRank(g, iters = 5).as[(String, Double)].collect().toMap
    val unif = Graph.pageRankWeighted(g, iters = 5).as[(String, Double)].collect().toMap
    assert(plain.keySet == unif.keySet)
    plain.foreach { case (k, v) => assert(math.abs(unif(k) - v) < 1e-10, k) }
    // deterministic under repartition; empty totality
    val rep = Graph.pageRankWeighted(g.repartition(7), iters = 5)
      .as[(String, Double)].collect().toMap
    assert(rep == unif)
    assert(Graph.pageRankWeighted(g.limit(0)).count() == 0)
  }

  // ---- hits --------------------------------------------------------------

  test("hits: single-edge and star fixpoints, hub/authority split") {
    // a→b: a is the pure hub, b the pure authority, from iteration 1 on
    val r1 = Graph.hits(Seq(("a", "b", 1L)).toDF("src", "dst", "cap"))
      .select("node", "hub", "auth").as[(String, Double, Double)]
      .collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r1 == Map("a" -> ((1.0, 0.0)), "b" -> ((0.0, 1.0))))
    // two endorsers of one authority: c collects all authority, a/b split
    // the hub mass (L1: 0.5 each)
    val r2 = Graph.hits(Seq(("a", "c", 1L), ("b", "c", 1L))
      .toDF("src", "dst", "cap"))
      .select("node", "hub", "auth").as[(String, Double, Double)]
      .collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r2 == Map("a" -> ((0.5, 0.0)), "b" -> ((0.5, 0.0)),
      "c" -> ((0.0, 1.0))))
    // chain a→c, b→c, c→d: the co-endorsed c dominates authority, the
    // endorsers a/b dominate hub (c hubs only the weak authority d)
    val r3 = Graph.hits(Seq(("a", "c", 1L), ("b", "c", 1L), ("c", "d", 1L))
      .toDF("src", "dst", "cap"))
      .select("node", "hub", "auth").as[(String, Double, Double)]
      .collect().map(x => x._1 -> ((x._2, x._3))).toMap
    assert(r3("c")._2 > r3("d")._2 && r3("d")._2 > 0 && r3("a")._2 == 0)
    assert(r3("a")._1 == r3("b")._1 && r3("a")._1 > r3("c")._1 && r3("c")._1 > 0)
    assert(r3("d")._1 == 0)
  }

  test("hits: driver-side protocol parity on a pseudo-random graph; normalization & edge erasure") {
    // exact mirror of the operator's decimal protocol, driver-side
    def ref(edges: Seq[(String, String)], iters: Int)
    : Map[String, (Double, Double)] = {
      val e = edges.distinct.filter(p => p._1 != p._2)
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
      def r12(x: Double) =
        BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
      def d14(x: Double) =
        BigDecimal(x).setScale(14, BigDecimal.RoundingMode.HALF_UP)
      var hub = nodes.map(_ -> r12(1.0 / nodes.size)).toMap
      var auth = hub
      def half(in: Map[String, Double], from: ((String, String)) => String,
               to: ((String, String)) => String): Map[String, Double] = {
        val raw = nodes.map(nd =>
          nd -> e.filter(p => to(p) == nd).map(p => d14(in(from(p)))).sum).toMap
        val t = raw.values.sum
        nodes.map(nd => nd -> (if (t > 0)
          r12(raw(nd).toDouble / t.toDouble) else 0.0)).toMap
      }
      (1 to iters).foreach { _ =>
        auth = half(hub, _._1, _._2)
        hub = half(auth, _._2, _._1)
      }
      nodes.map(nd => nd -> ((hub(nd), auth(nd)))).toMap
    }
    val edges = (0 until 60).map { i =>
      (s"n${(i * 7 + 3) % 17}", s"n${(i * 11 + 5) % 17}")
    }.filter(p => p._1 != p._2)
    val df = edges.map(p => (p._1, p._2, 1L)).toDF("src", "dst", "cap")
    val got = Graph.hits(df).select("node", "hub", "auth")
      .as[(String, Double, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(got == ref(edges, 5))
    // L1 norms ≈ 1 (12-dp rounding slack only)
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
    // deterministic under repartition; parallel edges / self-loops / zero
    // caps erased; empty graph total
    val got2 = Graph.hits(df.repartition(7)).select("node", "hub", "auth")
      .as[(String, Double, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    assert(got2 == got)
    val noisy = df.union(df.limit(10))
      .union(Seq(("n1", "n1", 5L), ("n2", "n3", 0L)).toDF("src", "dst", "cap"))
    val got3 = Graph.hits(noisy).select("node", "hub", "auth")
      .as[(String, Double, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3))).toMap
    // n2→n3 may add nodes only if absent; with cap 0 it is dropped entirely
    assert(got3 == got)
    assert(Graph.hits(df.limit(0)).count() == 0)
  }

  // ---- labelPropagation (community detection) ----

  /** Driver-side reference of the operator's exact contract: synchronous
    * rounds, neighbor-mode labels, min-label ties, direction/multiplicity
    * erased, self-loops dropped. */
  private def bruteLpa(edges: Seq[(String, String)], iters: Int): Map[String, String] = {
    val und = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
    val nbrs = und.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels: Map[String, String] = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      labels = nbrs.map { case (n, ns) =>
        val cnts = ns.map(labels).groupBy(identity).view.mapValues(_.size).toMap
        n -> cnts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }
    }
    labels
  }

  test("labelPropagation: two triangles stay separate communities; a bridge doesn't merge them") {
    // triangles {a,b,c} and {x,y,z} joined by one bridge edge c-x: the
    // mode rule keeps each triangle on its own min label (each bridge
    // endpoint has 2 in-triangle neighbors vs 1 across)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iters = 5)
      .as[(String, String)].collect().toMap
    assert(got == bruteLpa(Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("x", "y"), ("y", "z"), ("z", "x"), ("c", "x")), 5))
    // each triangle is internally uniform, and the two stay DISTINCT; the
    // right triangle converges to "c" (the bridge endpoint's label leaks
    // across in round 1 and wins the mode there), not to its own min "x" —
    // community MEMBERSHIP is the contract, the label is just a name
    assert(got("a") == "a" && got("b") == "a" && got("c") == "a")
    assert(got("x") == "c" && got("y") == "c" && got("z") == "c")
  }

  test("labelPropagation: brute-force parity on a hashed random graph; noise and knob invariance") {
    val rng = new scala.util.Random(8)
    val raw = List.fill(140)((s"n${rng.nextInt(30)}", s"n${rng.nextInt(30)}"))
    val edges = raw.toDF("src", "dst")
    val expected = bruteLpa(raw, 5)
    val got = Graph.labelPropagation(edges, iters = 5)
      .as[(String, String)].collect().toMap
    assert(got == expected)
    // deterministic under repartition
    val got2 = Graph.labelPropagation(edges.repartition(7), iters = 5)
      .as[(String, String)].collect().toMap
    assert(got2 == expected)
    // self-loops and duplicate/reversed edges are erased before counting
    val noisy = edges.union(edges.limit(20))
      .union(raw.take(15).map(_.swap).toDF("src", "dst"))
      .union(Seq(("n1", "n1")).toDF("src", "dst"))
    val got3 = Graph.labelPropagation(noisy, iters = 5)
      .as[(String, String)].collect().toMap
    assert(got3 == expected)
    // reliable-checkpoint knob must not change the answer
    val dir = tempDir("graft-lpa-ck")
    val got4 = Graph.labelPropagation(edges, iters = 5,
      checkpointDir = Some(dir), checkpointEvery = 2)
      .as[(String, String)].collect().toMap
    assert(got4 == expected)
    // empty graph total
    assert(Graph.labelPropagation(edges.limit(0), iters = 5).count() == 0)
  }

  test("labelPropagation: star ties break to the lexicographic min") {
    // hub h with leaves p,q,r: round 1 every leaf adopts "h", h adopts the
    // min leaf label "p"; round 2 h sees {h,h,h} -> "h", leaves see "p";
    // round 3 re-oscillates -- brute parity is the contract, plus the
    // round-1 tie direction pinned explicitly via a 1-round run
    val edges = Seq(("h", "p"), ("h", "q"), ("h", "r")).toDF("src", "dst")
    val one = Graph.labelPropagation(edges, iters = 1)
      .as[(String, String)].collect().toMap
    assert(one("h") == "p" && one("p") == "h" && one("q") == "h" && one("r") == "h")
    val five = Graph.labelPropagation(edges, iters = 5)
      .as[(String, String)].collect().toMap
    assert(five == bruteLpa(Seq(("h", "p"), ("h", "q"), ("h", "r")), 5))
  }

  // ---- neighborhoodFunction ------------------------------------------------

  // ---- randomWalks ---------------------------------------------------------

  private def md5Pick(node: String, walk: Long, step: Int, deg: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$node:$walk:$step".getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % deg + 1
  }

  test("randomWalks: md5 picks reproduce by hand; walks follow edges; deterministic") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d"))
    val got = Graph.randomWalks(edges.toDF("src", "dst"),
        walksPerNode = 2, length = 3)
      .as[(String, Long, Int, String)].collect().toSeq
    // step-0 rows: one per (start-with-out-edges, walk)
    assert(got.filter(_._3 == 0).map(x => (x._1, x._2)).toSet ==
      (for (s <- Seq("a", "b", "c"); w <- 0L to 1L) yield (s, w)).toSet)
    // every consecutive (step, step+1) pair is a real edge AND the
    // hand-computed md5 pick over the dst-sorted adjacency
    val adj = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2).sorted.toVector }
    got.groupBy(x => (x._1, x._2)).foreach { case ((start, walk), rows) =>
      val path = rows.sortBy(_._3).map(_._4)
      assert(path.head == start)
      path.sliding(2).filter(_.size == 2).zipWithIndex.foreach {
        case (Seq(cur, nxt), i) =>
          val nbrs = adj(cur)
          assert(nbrs(md5Pick(cur, walk, i + 1, nbrs.size).toInt - 1) == nxt,
            s"walk ($start,$walk) step ${i + 1}: $cur -> $nxt not the md5 pick")
      }
      // a walk only ends early at a dead end (d is the only sink here)
      if (path.size < 4) assert(path.last == "d")
    }
    // deterministic under repartition
    val rep = Graph.randomWalks(edges.toDF("src", "dst").repartition(5),
        walksPerNode = 2, length = 3)
      .as[(String, Long, Int, String)].collect().toSeq
    assert(rep.toSet == got.toSet)
    assert(Graph.randomWalks(
      Seq.empty[(String, String)].toDF("src", "dst")).count() == 0)
  }

  // ---- temporalReach -------------------------------------------------------

  /** Exact earliest arrival by (node, t)-state closure. */
  private def bruteTemporal(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                            start: Long): Map[Long, Long] = {
    var arr = seeds.map(_ -> start).toMap
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (s, d, ts) =>
        arr.get(s).filter(ts >= _).foreach { _ =>
          if (arr.get(d).forall(ts < _)) { arr += d -> ts; changed = true }
        }
      }
    }
    arr
  }

  test("temporalReach: time order respected, earliest arrival dominates, brute parity") {
    def tr(edges: Seq[(Long, Long, Long)], seeds: Seq[Long], start: Long = 0L) =
      Graph.temporalReach(edges.toDF("src", "dst", "ts"),
        seeds.toDF("node"), startTs = start)
        .as[(Long, Long)].collect().toMap
    // A→B@10 then B→C@5: NOT a flow (time decreases); @20 variant is
    assert(tr(Seq((1L, 2L, 10L), (2L, 3L, 5L)), Seq(1L)) ==
      Map(1L -> 0L, 2L -> 10L))
    assert(tr(Seq((1L, 2L, 10L), (2L, 3L, 20L)), Seq(1L)) ==
      Map(1L -> 0L, 2L -> 10L, 3L -> 20L))
    // earliest arrival dominates: the @3 copy of A→B unlocks B→C@5
    // (the @10-only graph above could not)
    assert(tr(Seq((1L, 2L, 10L), (1L, 2L, 3L), (2L, 3L, 5L)), Seq(1L)) ==
      Map(1L -> 0L, 2L -> 3L, 3L -> 5L))
    // startTs gates the first hop
    assert(tr(Seq((1L, 2L, 10L)), Seq(1L), start = 11L) == Map(1L -> 11L))
    // brute parity on a hashed temporal graph, determinism, empty totality
    val rng = new scala.util.Random(13)
    val edges = Seq.fill(400)((rng.nextInt(60).toLong, rng.nextInt(60).toLong,
      rng.nextInt(1000).toLong)).filter(e => e._1 != e._2)
    val seeds = Seq(0L, 17L, 34L)
    val got = tr(edges, seeds)
    assert(got == bruteTemporal(edges, seeds.toSet, 0L))
    assert(tr(edges, seeds) == got)
    assert(Graph.temporalReach(Seq.empty[(Long, Long, Long)].toDF("src", "dst", "ts"),
      Seq.empty[Long].toDF("node")).count() == 0)
  }

  test("temporalReach: a chain deeper than maxIters fails loud, naming the budget") {
    // arrivals climb one hop a round along 0 → 1 → … → 10
    val chain = (0L until 10L).map(i => (i, i + 1, 10L * i))
    val err = intercept[RuntimeException](Graph.temporalReach(
      chain.toDF("src", "dst", "ts"), Seq(0L).toDF("node"), startTs = 0L,
      maxIters = 3).collect())
    assert(err.getMessage.contains("maxIters=3"), err.getMessage)
  }

  /** Exact NF(t) = Σᵤ |ball(u, t)| by BFS from every node. */
  private def bruteNf(edges: Seq[(Long, Long)], maxT: Int): Map[Int, Long] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    (0 to maxT).map { t =>
      t -> nodes.map { u =>
        var ball = Set(u)
        var frontier = Set(u)
        for (_ <- 1 to t) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- ball
          ball ++= frontier
        }
        ball.size.toLong
      }.sum
    }.toMap
  }

  test("neighborhoodFunction: HLL estimates track exact BFS NF; monotone; converges") {
    // pseudo-random sparse digraph: 200 nodes, 2 affine out-edges each
    val edges = (0L until 200L).flatMap(u =>
      Seq((u, (u * 7 + 13) % 200), (u, (u * 57 + 5) % 200)))
    val got = Graph.hyperBallBoth(edges.toDF("src", "dst"), maxT = 8)._1
      .as[(Int, Double, Double, Long)].collect().sortBy(_._1)
    val exact = bruteNf(edges, 8)
    // summed over 200 balls the FM register noise averages way down —
    // every t must land within ±35% of exact (default 8 registers:
    // single-ball std ≈ 28%, the sum is far tighter; bound kept loose
    // enough to be seed-robust, tight enough to catch algebra bugs)
    got.foreach { case (t, nf, avg, _) =>
      val ex = exact(t).toDouble
      assert(nf > 0.65 * ex && nf < 1.35 * ex,
        s"t=$t: est $nf vs exact $ex out of band")
      assert(math.abs(avg - nf / 200.0) < 1e-4) // both 4-dp rounded
    }
    // NF is monotone non-decreasing in t (balls only grow; OR only adds bits)
    got.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 - 1e-9, s"nf dropped: $a -> $b") }
  }

  /** Exact harmonic centrality by per-source BFS: Σ 1/d(u,v). */
  private def bruteHarmonic(edges: Seq[(Long, Long)]): Map[Long, Double] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map { u =>
      var seen = Set(u)
      var frontier = Set(u)
      var d = 0
      var h = 0.0
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
        seen ++= frontier
        h += frontier.size.toDouble / d
      }
      u -> h
    }.toMap
  }

  test("harmonicCentrality: hub tops the ranking, sinks score exactly 0, brute band, deterministic") {
    // hub: 0 -> 1..20 (plus a 2-chain so distances vary)
    val hub = (1L to 20L).map(l => (0L, l)) ++ Seq((1L, 21L))
    val got = Graph.hyperBallBoth(hub.toDF("src", "dst"))._2
      .as[(Long, Double)].collect().toMap
    // pure sinks never grow their sketch -> shell 0 every round -> EXACT 0
    (2L to 20L).foreach(l => assert(got(l) == 0.0, s"leaf $l: ${got(l)}"))
    assert(got(21L) == 0.0)
    // the hub reaches 21 nodes (20 at d=1 via 1..20... node 21 at d=2)
    val exact = bruteHarmonic(hub)
    assert(got(0L) == got.values.max, "hub must rank first")
    assert(got(0L) > 0.65 * exact(0L) && got(0L) < 1.35 * exact(0L))
    // pseudo-random digraph: per-node band where balls are big enough,
    // plus aggregate band and rerun determinism
    val edges = (0L until 200L).flatMap(u =>
      Seq((u, (u * 7 + 13) % 200), (u, (u * 57 + 5) % 200)))
    val est = Graph.hyperBallBoth(edges.toDF("src", "dst"), maxT = 12)._2
      .as[(Long, Double)].collect().toMap
    val ex = bruteHarmonic(edges)
    val sumEst = est.values.sum
    val sumEx = ex.values.sum
    assert(sumEst > 0.65 * sumEx && sumEst < 1.35 * sumEx,
      s"aggregate harmonic off: $sumEst vs $sumEx")
    ex.filter(_._2 >= 5.0).foreach { case (u, e) =>
      assert(est(u) > 0.5 * e && est(u) < 2.0 * e, s"node $u: ${est(u)} vs $e")
    }
    val rerun = Graph.hyperBallBoth(edges.toDF("src", "dst"), maxT = 12)._2
      .as[(Long, Double)].collect().toMap
    assert(rerun == est)
    assert(Graph.hyperBallBoth(
      Seq.empty[(Long, Long)].toDF("src", "dst"))._2.count() == 0)
  }

  test("neighborhoodFunction: bit-deterministic; converges at the diameter; empty total") {
    // directed 8-cycle: ball(u, t) = t+1 until the full ring at t = 7,
    // so masks change through t=7 and the t=8 round certifies the fixpoint
    val ring = (0L until 8L).map(u => (u, (u + 1) % 8))
    val a = Graph.hyperBallBoth(ring.toDF("src", "dst"), maxT = 20)._1
      .as[(Int, Double, Double, Long)].collect().sortBy(_._1)
    val b = Graph.hyperBallBoth(ring.toDF("src", "dst"), maxT = 20)._1
      .as[(Int, Double, Double, Long)].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq) // same hashes, same OR algebra → same bits
    assert(a.last._4 == 0L, "last round must certify convergence")
    assert(a.map(_._1).last == 8, s"8-ring converges at t=8, got ${a.map(_._1).last}")
    // all balls equal the full ring at the fixpoint → per-node estimates
    // identical → nf == 8 * the per-node mean (each independently rounded
    // to 4 dp, so compare at rounding tolerance)
    assert(math.abs(a.last._2 - 8.0 * a.last._3) < 1e-3)
    val empty = Graph.hyperBallBoth(
      Seq.empty[(Long, Long)].toDF("src", "dst"))._1
    assert(empty.columns.toSeq ==
      Seq("t", "nf_est", "avg_ball_est", "changed_nodes"))
  }

  // --- betweenness (sampled Brandes) ---------------------------------------

  /** Reference Brandes (directed, truncated at maxDepth) for parity. */
  private def bruteBetweenness(edges: Seq[(Long, Long)], sources: Seq[Long],
                               maxDepth: Int): Map[Long, Double] = {
    val es = edges.distinct.filter(e => e._1 != e._2)
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val preds = es.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val bc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    for (s <- sources) {
      val dist = scala.collection.mutable.Map[Long, Int](s -> 0)
      val sigma = scala.collection.mutable.Map[Long, Double](s -> 1.0)
      val levels = scala.collection.mutable.ArrayBuffer(List(s))
      var frontier = List(s)
      var d = 0
      while (frontier.nonEmpty && d < maxDepth) {
        d += 1
        val acc = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
        for (v <- frontier; w <- adj.getOrElse(v, Nil) if !dist.contains(w))
          acc(w) += sigma(v)
        val next = acc.keys.toList.sorted
        next.foreach { w => dist(w) = d; sigma(w) = acc(w) }
        if (next.nonEmpty) levels += next
        frontier = next
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      for (dd <- (levels.size - 1) to 1 by -1; w <- levels(dd);
           v <- preds.getOrElse(w, Nil) if dist.get(v).contains(dd - 1))
        delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
      for ((v, dl) <- delta if v != s) bc(v) += dl
    }
    bc.toMap.filter(_._2 > 1e-12)
  }

  test("betweenness: hand-checked path and diamond scores") {
    // path 1->2->3->4: node 2 sits on (1,3),(1,4); node 3 on (1,4),(2,4)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val allNodes = Seq(1L, 2L, 3L, 4L).toDF("node")
    val r = Graph.betweenness(path, allNodes).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Double]("betweenness")).toMap
    assert(r == Map(2L -> 2.0, 3L -> 2.0))
    // diamond 1->{2,3}->4: two equal shortest paths split the dependency
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val r2 = Graph.betweenness(diamond, allNodes).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Double]("betweenness")).toMap
    assert(r2 == Map(2L -> 0.5, 3L -> 0.5))
  }

  test("betweenness: parity with reference Brandes on a mixed graph, truncation honored") {
    // 24 nodes, two affine maps + a long chain so some shortest paths
    // exceed the truncation cap
    val n = 24L
    val edges = (0L until n).flatMap(i => Seq(
      (i, (i * 5 + 3) % n), (i, (i * 7 + 1) % n))) ++
      (0L until n - 1).map(i => (i, i + 1))
    val sources = Seq(0L, 3L, 7L, 11L, 19L)
    for (depth <- Seq(3, 8)) {
      val expect = bruteBetweenness(edges, sources, depth)
      val got = Graph.betweenness(edges.toDF("src", "dst"),
          sources.toDF("node"), maxDepth = depth).collect()
        .map(x => x.getAs[Long]("node") -> x.getAs[Double]("betweenness")).toMap
      assert(got.keySet == expect.keySet, s"node sets differ at depth $depth")
      got.foreach { case (v, b) =>
        assert(math.abs(b - expect(v)) < 1e-9, s"node $v depth $depth: $b vs ${expect(v)}")
      }
    }
  }

  test("betweenness: sources outside the graph and empty inputs are harmless") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    assert(Graph.betweenness(edges, Seq(99L).toDF("node")).collect().isEmpty)
    assert(Graph.betweenness(edges, spark.range(0).select(col("id").as("node")))
      .collect().isEmpty)
  }

  test("heavy-graph store: q_trust_scc / q_trust_betweenness serve bit-equal to direct compute") {
    // r13 VERDICT item 5: the two most expensive benched keys now read a
    // per-sfDir maintained artifact (the hyperBall precedent); this pins
    // the served rows bit-equal to running the operators directly on the
    // same trust edges — the store is a cache, never a different answer.
    import graft.operators.{CirclesViews, ReceiptClassifier}
    import org.apache.spark.sql.functions.{lit, xxhash64}
    val d = "/root/testdata/sf0.001"
    val trust = CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(
      ReceiptClassifier.demoReceipts(graft.Tables.events(spark, d))))
    val edges = trust.where(col("limit") > 0)
      .select(col("user").as("src"), col("can_send_to").as("dst"))

    val servedScc = SparkEntry.queries("q_trust_scc")(spark, d).collect().toSeq
    val directScc = Graph.stronglyConnectedComponents(edges).collect().toSeq
    assert(servedScc === directScc)

    val servedBtw = SparkEntry.queries("q_trust_betweenness")(spark, d).collect().toSeq
    val sources = edges.select(col("src").as("node")).distinct()
      .orderBy(xxhash64(col("node"), lit("btw")), col("node")).limit(12)
    val directBtw = Graph.betweenness(edges, sources, maxDepth = 6).collect().toSeq
    assert(servedBtw === directBtw)
  }
}
