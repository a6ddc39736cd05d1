package graftbench

/** Self-tests of the benchmark's own rules (`python3 graftbench/selftest.py`
  * runs them): due-time latency, the percentile rule, generator
  * determinism and the stream offset → block mapping. Exits non-zero if a
  * check failed.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => System.err.println(t); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // a consumer stalls for 1 s at t = 100 ms; ten blocks were due every
    // 10 ms from t = 100 ms and all complete at t = 1100 ms. Timed from the
    // due time, each waits out the stall; timed from a send the generator
    // delayed until the consumer read again, all would look instant.
    val ms = 1000000L
    val dues = (0 until 10).map(i => 100 * ms + i * 10 * ms)
    val lat = Stats.dueLatenciesMs(dues, _ => Some(1100 * ms), 2000 * ms)
    check("due-time latency counts the stall for every block queued behind it") {
      lat.head == 1000.0 && lat.last == 910.0 && lat.forall(_ >= 900.0)
    }
    check("due-time latency counts an unfinished block until the end of the run") {
      Stats.dueLatenciesMs(Seq(100 * ms), _ => None, 600 * ms) == Seq(500.0)
    }

    check("percentile rule: p95 needs 200 samples for 10 beyond it, p99 1000, p50 20") {
      Stats.samplesBeyond(200, 95) == 10 && Stats.samplesBeyond(199, 95) == 9 &&
        Stats.samplesBeyond(1000, 99) == 10 && Stats.samplesBeyond(20, 50) == 10
    }
    check("nearest-rank percentiles; the median interpolates") {
      val xs = (1 to 100).map(_.toDouble)
      Stats.percentile(xs, 50) == 50.0 && Stats.percentile(xs, 95) == 95.0 &&
        Stats.percentile(Seq(3.0), 99) == 3.0 && Stats.median(Seq(2.0, 1.0, 3.0)) == 2.0 &&
        Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
    }

    val live = new LiveChain(7)
    check("live generator: the same seed gives the same events; a reorg re-spells them") {
      live.lines(5, 0) == new LiveChain(7).lines(5, 0) && live.lines(5, 0) != live.lines(5, 1) &&
        live.ids(5, 1).forall(id => live.blockOf(id) == 5 && live.genOf(id) == 1) &&
        live.lines(5, 1).size == live.eventCount(5, 1)
    }

    // one connection sent blocks 10, 11, 12 carrying 3, 1 and 2 rows: rows
    // 0-2 are block 10, row 3 block 11, rows 4-5 block 12
    val blocks = IndexedSeq(10L, 11L, 12L)
    val ends = IndexedSeq(3L, 4L, 6L)
    check("stream offsets map to the blocks that carried them") {
      (0L until 6L).map(o => Stats.holderOf(blocks, ends, o)) ==
        Seq(10L, 10L, 10L, 11L, 12L, 12L).map(Some(_)) &&
        Stats.holderOf(blocks, ends, 6L).isEmpty
    }
    check("a block's last row finds the micro-batch that read it") {
      // batches read rows [0, 2), [2, 5), [5, 6): block 10 (rows 0-2) ends in
      // the second batch, block 11 (row 3) too, block 12 (rows 4-5) in the third
      val batches = IndexedSeq("b0", "b1", "b2")
      val batchEnds = IndexedSeq(2L, 5L, 6L)
      ends.map(e => Stats.holderOf(batches, batchEnds, e - 1)) == Seq(Some("b1"), Some("b1"), Some("b2"))
    }
    check("uncovered time: the wall no interval covers") {
      Stats.uncovered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 50L) == 20L &&
        Stats.uncovered(Nil, 0L, 7L) == 7L
    }

    if (failures > 0) { println(s"$failures self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
