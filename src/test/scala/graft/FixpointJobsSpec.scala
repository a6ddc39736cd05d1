package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame

/** Job-count guard for the three min-value delta loops that run through
  * [[graft.operators.Fixpoint]]: connected components (via
  * `Dedup.dupClusters`), SCC's forward/backward label loops, and
  * temporal reachability. Each round is one eager cut whose
  * materialization is also the convergence probe, so a round costs a
  * fixed number of jobs; the counts below pin that cost on multi-round
  * graphs.
  */
class FixpointJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs each warm call below ran when each loop had its own copy of
    * the delta iteration, counted by this spec on that code.
    */
  private val EarlierJobs = Map("cc" -> 65, "scc" -> 160, "temporal" -> 51)

  private def noopJobs(df: => DataFrame): Int =
    jobsOf(df.write.format("noop").mode("overwrite").save())

  private def pinned(name: String)(df: => DataFrame): Unit = {
    noopJobs(df) // warm
    val n = noopJobs(df)
    info(s"$name: $n Spark jobs")
    assert(n == EarlierJobs(name), s"$name ran $n jobs; the earlier loop ran ${EarlierJobs(name)}")
  }

  test("connectedComponents: a 12-hop path and a triangle run the earlier job count") {
    // min label 0 travels 11 hops, so the loop runs a dozen rounds
    val edges = ((0L until 11L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (22L, 20L))).toDF("src", "dst")
    pinned("cc")(Graph.connectedComponents(edges))
  }

  test("stronglyConnectedComponents: a ring, a 2-cycle and a tail run the earlier job count") {
    // 8-ring: both label loops need 8 rounds; the bridge 7 → 10 makes the
    // 2-cycle a second peel; node 30 is trimmed
    val edges = ((0L until 8L).map(i => (i, (i + 1) % 8)) ++
      Seq((7L, 10L), (10L, 11L), (11L, 10L), (30L, 0L))).toDF("src", "dst")
    pinned("scc")(Graph.stronglyConnectedComponents(edges))
  }

  test("temporalReach: a 10-hop time-ordered chain runs the earlier job count") {
    val edges = ((0L until 10L).map(i => (i, i + 1, 10L * i)) ++
      Seq((3L, 20L, 5L), (5L, 21L, 100L))).toDF("src", "dst", "ts")
    pinned("temporal")(Graph.temporalReach(edges, Seq(0L).toDF("node"), startTs = 0L))
  }
}
