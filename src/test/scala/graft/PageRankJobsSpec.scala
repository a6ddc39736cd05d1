package graft

import graft.operators.Graph

/** Job-count guard for the PageRank family's power iteration: on graphs
  * this size its cost is Spark jobs and driver time, not data, so the
  * count is pinned directly.
  */
class PageRankJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs the earlier DataFrame loop (now [[PageRankRef.pageRank]], one
    * eager cut per round) ran for the warm 5-round call below, counted by
    * this spec on that code.
    */
  private val EarlierJobs = 38

  // 60 nodes on two modular chords each, all pointing at a hub that
  // points back at node 0
  private def edges = ((0 until 60).flatMap(i => Seq(
    (i.toLong, ((i * 7 + 3) % 60).toLong, 1L), (i.toLong, ((i * 11 + 1) % 60).toLong, 2L),
    (i.toLong, 60L, 1L))) :+ ((60L, 0L, 1L))).toDF("src", "dst", "cap")

  private def pageRankJobs(iters: Int): Int =
    jobsOf(Graph.pageRank(edges, iters).write.format("noop").mode("overwrite").save())

  test("pageRank: rounds add no Spark jobs, and a warm call runs at most half the earlier count") {
    pageRankJobs(5) // warm
    val (two, five, ten) = (pageRankJobs(2), pageRankJobs(5), pageRankJobs(10))
    info(s"$two / $five / $ten Spark jobs at 2 / 5 / 10 rounds")
    assert(two == ten, s"$two jobs at 2 rounds, $ten at 10")
    assert(five <= EarlierJobs / 2, s"$five jobs at 5 rounds; the earlier loop ran $EarlierJobs")
  }
}
