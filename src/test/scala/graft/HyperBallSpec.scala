package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** The fused HyperBall sweep behind the q_trust_nf / q_trust_harmonic
  * store (r11 verdict item 1): one register sweep must serve both keys
  * with outputs BIT-IDENTICAL to the standalone operators, and the
  * orientation argument the fused store relies on (NF is the same
  * quantity on either edge orientation) must hold exactly.
  */
class HyperBallSpec extends SparkSpec {
  import spark.implicits._

  // two communities + a bridge + a sink — rich enough that convergence
  // takes several rounds and harmonic scores spread
  private val edges = Seq(
    1L -> 2L, 2L -> 3L, 3L -> 1L, // cycle A
    4L -> 5L, 5L -> 6L, 6L -> 4L, // cycle B
    3L -> 4L, // bridge A→B
    6L -> 7L // sink
  )

  test("fused sweep == standalone neighborhoodFunction, bit-for-bit") {
    val e = edges.toDF("src", "dst")
    val standalone = HyperBallRef.neighborhoodFunction(e, maxT = 12).collect().toSeq
    val fused = Graph.hyperBallBoth(e, maxT = 12)._1.collect().toSeq
    assert(fused == standalone)
    assert(fused.nonEmpty && fused.last.getAs[Long]("changed_nodes") == 0L)
  }

  test("fused sweep == standalone harmonicCentrality, bit-for-bit") {
    val e = edges.toDF("src", "dst")
    val standalone = HyperBallRef.harmonicCentrality(e, maxT = 12).collect().toSeq
    val fused = Graph.hyperBallBoth(e, maxT = 12)._2.collect().toSeq
    assert(fused == standalone)
    assert(fused.nonEmpty)
  }

  test("NF is orientation-invariant as an exact quantity (the fused-store argument)") {
    // brute-force pair counts within t hops, forward vs reversed edges:
    // #(u,v): d(u→v) ≤ t is the same SET counted from either side, so the
    // reversed sweep behind the fused store estimates the same curve the
    // old forward q_trust_nf did
    val adjF = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val adjB = edges.map(e => (e._2, e._1)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    def nfCurve(adj: Map[Long, Set[Long]]): Seq[Long] =
      (0 to 8).map { t =>
        nodes.map { n =>
          var ball = Set(n)
          var frontier = Set(n)
          for (_ <- 1 to t) {
            frontier = frontier.flatMap(v => adj.getOrElse(v, Set.empty)) -- ball
            ball ++= frontier
          }
          ball.size.toLong
        }.sum
      }
    assert(nfCurve(adjF) == nfCurve(adjB))
  }

  test("empty graph: both halves emit no rows") {
    val e = spark.range(0).select(col("id").as("src"), col("id").as("dst"))
    val (nf, h) = Graph.hyperBallBoth(e)
    assert(nf.collect().isEmpty)
    assert(h.collect().isEmpty)
  }
}
