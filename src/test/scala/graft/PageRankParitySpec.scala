package graft

import graft.operators.Graph
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.DataType
import org.scalacheck.{Gen, Prop}
import scala.util.Try

/** The PageRank family's power iteration against [[PageRankRef]], the
  * earlier DataFrame loops: on random graphs both must return the same
  * schema and the same rows in the same order, bit for bit, at the default
  * setting and with the reliable-checkpoint knob at every=1 and every=3.
  */
class PageRankParitySpec extends SparkSpec {
  import spark.implicits._

  /** One generated input: Long or String ids, the edges, the PPR seeds
    * (which may include ids outside the graph), the loop settings, and
    * whether the input is repartitioned.
    */
  private case class Case(stringIds: Boolean, edges: Seq[(Int, Int, Long)],
                          seeds: Seq[Int], iters: Int, damping: Double,
                          repartition: Boolean)

  /** Random edges over up to 12 ids (self-loops, parallel edges and caps
    * ≤ 0 included, so cycles, dangling and dst-only nodes occur; one case
    * in seven has no edge at all), plus up to 8 extra edges into node 0,
    * the hub.
    */
  private val cases: Gen[Case] = for {
    stringIds <- Gen.oneOf(false, true)
    nodes <- Gen.choose(1, 12)
    nEdges <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 30))
    edges <- Gen.listOfN(nEdges, for {
      s <- Gen.choose(0, nodes - 1)
      d <- Gen.choose(0, nodes - 1)
      cap <- Gen.frequency(1 -> Gen.choose(-2L, 0L), 5 -> Gen.choose(1L, 9L))
    } yield (s, d, cap))
    hubIn <- Gen.choose(0, 8)
    hubSrcs <- Gen.listOfN(hubIn, Gen.choose(1, nodes + 3))
    seeds <- Gen.listOfN(3, Gen.choose(0, nodes + 2))
    iters <- Gen.choose(0, 6)
    damping <- Gen.oneOf(0.85, 0.5)
    repartition <- Gen.oneOf(false, true)
  } yield Case(stringIds, edges ++ hubSrcs.map(s => (s, 0, 3L)), seeds, iters, damping,
    repartition)

  private def frames(c: Case): (DataFrame, DataFrame) = {
    val (e, s) =
      if (c.stringIds) (c.edges.map(t => (s"n${t._1}", s"n${t._2}", t._3)).toDF("src", "dst", "cap"),
        c.seeds.map(i => s"n$i").toDF("node"))
      else (c.edges.map(t => (t._1.toLong, t._2.toLong, t._3)).toDF("src", "dst", "cap"),
        c.seeds.map(_.toLong).toDF("node"))
    (if (c.repartition) e.repartition(7) else e, s)
  }

  /** Column names and types and the rows, or the error's class and
    * message.
    */
  private def outcome(df: => DataFrame): Either[String, (Seq[(String, DataType)], Seq[Row])] =
    Try { val d = df; (d.schema.map(f => f.name -> f.dataType), d.collect().toSeq) }
      .toEither.left.map(t => s"${t.getClass.getName}: ${t.getMessage}")

  private type Run = (DataFrame, DataFrame, Int, Double, Option[String], Int) => DataFrame

  private val operators: Seq[(String, Run, Run)] = Seq(
    ("pageRank",
      (e, _, it, d, dir, every) => Graph.pageRank(e, it, d, dir, every),
      (e, _, it, d, dir, every) => PageRankRef.pageRank(e, it, d, dir, every)),
    ("pageRankWeighted",
      (e, _, it, d, dir, every) => Graph.pageRankWeighted(e, it, d, dir, every),
      (e, _, it, d, dir, every) => PageRankRef.pageRankWeighted(e, it, d, dir, every)),
    ("personalizedPageRank",
      (e, s, it, d, dir, every) => Graph.personalizedPageRank(e, s, it, d, dir, every),
      (e, s, it, d, dir, every) => PageRankRef.personalizedPageRank(e, s, it, d, dir, every)))

  test("property: the PageRank family matches PageRankRef exactly, with and without the knob") {
    val prop = Prop.forAllNoShrink(cases) { c =>
      val (edges, seeds) = frames(c)
      Prop.all(operators.flatMap { case (name, run, ref) =>
        val want = outcome(ref(edges, seeds, c.iters, c.damping, None, 5))
        Seq(None -> 5, Some(tempDir("graft-pr-ck")) -> 1, Some(tempDir("graft-pr-ck")) -> 3)
          .map { case (dir, every) =>
            val got = outcome(run(edges, seeds, c.iters, c.damping, dir, every))
            Prop(got == want) :| s"$name every=$every on $c\n got: $got\nwant: $want"
          }
      }: _*)
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(12)
        .withInitialSeed(org.scalacheck.rng.Seed(20261019L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("the empty graph and a seed set outside the graph behave as the reference") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "cap")
    val noPositive = Seq((1L, 2L, 0L), (3L, 3L, 5L)).toDF("src", "dst", "cap")
    val line = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "cap")
    val alien = Seq(99L).toDF("node")
    for ((edges, name) <- Seq(empty -> "empty", noPositive -> "no usable edge", line -> "line");
         (op, run, ref) <- operators) {
      val want = outcome(ref(edges, alien, 3, 0.85, None, 5))
      assert(outcome(run(edges, alien, 3, 0.85, None, 5)) == want, s"$op on $name")
    }
    // the alien seed on a non-empty graph is the caller error both reject
    assert(outcome(Graph.personalizedPageRank(line, alien)).left.exists(
      _.contains("no seed intersects the graph")))
  }
}
