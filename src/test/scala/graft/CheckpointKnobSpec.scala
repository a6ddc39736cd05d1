package graft

import graft.operators.{Dedup, Graph}

/** The reliable-checkpoint knob ([[graft.operators.Checkpoints]]) is a
  * fault-tolerance policy, not a semantics change: every iterative
  * operator must return IDENTICAL results with and without it, at any
  * cadence. (The knob swaps executor-local lineage truncation for
  * recoverable reliable checkpoints — see the Scaladoc for the cost
  * model.)
  */
class CheckpointKnobSpec extends SparkSpec {
  import spark.implicits._

  private def ckDir(): Option[String] = Some(tempDir("graft-ck"))

  // a graph with a hub, a chain (diameter > 2 exercises multiple rounds),
  // parallel edges, and a cycle
  private def edges = Seq(
    (1L, 2L, 10.0), (2L, 3L, 5.0), (3L, 4L, 7.0), (4L, 5L, 2.0),
    (1L, 3L, 1.0), (5L, 1L, 9.0), (2L, 3L, 6.0), (6L, 1L, 4.0),
    (1L, 6L, 4.0), (7L, 8L, 3.0)
  ).toDF("src", "dst", "cap")

  test("pageRank: knob-independent at every-1 and every-3 cadence") {
    val base = Graph.pageRank(edges, iters = 6).collect().toSeq
    for (every <- Seq(1, 3))
      assert(Graph.pageRank(edges, iters = 6, checkpointDir = ckDir(),
        checkpointEvery = every).collect().toSeq == base, s"every=$every")
  }

  test("pageRankWeighted: knob-independent") {
    val base = Graph.pageRankWeighted(edges, iters = 5).collect().toSeq
    assert(Graph.pageRankWeighted(edges, iters = 5, checkpointDir = ckDir(),
      checkpointEvery = 2).collect().toSeq == base)
  }

  test("hits: knob-independent at every-1 and every-3 cadence") {
    val base = Graph.hits(edges, iters = 5).collect().toSeq
    for (every <- Seq(1, 3))
      assert(Graph.hits(edges, iters = 5, checkpointDir = ckDir(),
        checkpointEvery = every).collect().toSeq == base, s"every=$every")
  }

  test("personalizedPageRank: knob-independent") {
    val seeds = Seq(1L, 7L).toDF("node")
    val base = Graph.personalizedPageRank(edges, seeds, iters = 6).collect().toSeq
    assert(Graph.personalizedPageRank(edges, seeds, iters = 6,
      checkpointDir = ckDir(), checkpointEvery = 2).collect().toSeq == base)
  }

  test("widestPaths: knob-independent, beam and exact") {
    for (cap <- Seq(0, 2)) {
      val base = Graph.widestPaths(edges, maxHops = 4, frontierCap = cap)
        .collect().toSeq
      assert(Graph.widestPaths(edges, maxHops = 4, frontierCap = cap,
        checkpointDir = ckDir(), checkpointEvery = 2).collect().toSeq == base,
        s"frontierCap=$cap")
    }
  }

  test("dupClusters/connectedComponents: knob-independent through convergence") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 6L), (3L, 1L))
      .toDF("doc_a", "doc_b")
    val base = Dedup.dupClusters(pairs).collect().toSeq
    assert(Dedup.dupClusters(pairs, checkpointDir = ckDir(),
      checkpointEvery = 2).collect().toSeq == base)
    val ccBase = Graph.connectedComponents(edges).collect().toSeq
    assert(Graph.connectedComponents(edges, checkpointDir = ckDir(),
      checkpointEvery = 3).collect().toSeq == ccBase)
  }

  // the r9 release() paths (superseded-round storage freed) must not
  // change what any loop computes, in either storage mode
  test("HyperBall sweeps: knob-independent with per-round release") {
    val nfBase = Graph.hyperBallBoth(edges, maxT = 6)._1.collect().toSeq
    assert(Graph.hyperBallBoth(edges, maxT = 6, checkpointDir = ckDir(),
      checkpointEvery = 2)._1.collect().toSeq == nfBase)
    val hBase = Graph.hyperBallBoth(edges, maxT = 6)._2.collect().toSeq
    assert(Graph.hyperBallBoth(edges, maxT = 6, checkpointDir = ckDir(),
      checkpointEvery = 2)._2.collect().toSeq == hBase)
  }

  test("temporalReach: knob-independent with per-round release") {
    val tEdges = Seq((1L, 2L, 10L), (2L, 3L, 20L), (3L, 4L, 15L), (1L, 3L, 40L),
      (4L, 5L, 50L), (5L, 6L, 60L)).toDF("src", "dst", "ts")
    val seeds = Seq(1L).toDF("node")
    val base = Graph.temporalReach(tEdges, seeds, startTs = 0L).collect().toSeq
    for (every <- Seq(1, 3))
      assert(Graph.temporalReach(tEdges, seeds, startTs = 0L,
        checkpointDir = ckDir(), checkpointEvery = every).collect().toSeq == base,
        s"every=$every")
  }

  test("trainSgns: knob-independent with the single-frame epoch loop") {
    import graft.operators.Node2Vec
    val pairs = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (4L, 5L), (5L, 4L))
      .toDF("center", "context")
    val base = Node2Vec.trainSgns(pairs, dim = 4, epochs = 4, lr = 0.3)
      .collect().toSeq
    for (every <- Seq(1, 3))
      assert(Node2Vec.trainSgns(pairs, dim = 4, epochs = 4, lr = 0.3,
        checkpointDir = ckDir(), checkpointEvery = every).collect().toSeq == base,
        s"every=$every")
  }
}
