package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.streaming.{HealthState, ImportFeed, LiveImportLoop, TxHashBroadcastServer}

/** `live`: open-loop head following. An untimed catch-up replays
  * `History` blocks; then the feed pushes blocks at a fixed `Rate`
  * whatever the pipeline does, for a lead-in and the run's window; then it
  * sends `Reorgs` depth-16 reorgs, one after another. One
  * `LiveImportLoop.run` with the import feed, the hash broadcast and the
  * health state attached serves all three phases, as one indexer process
  * would.
  */
object Live {
  val History = 60L
  /** Blocks per second offered in the window: low enough that the loop
    * keeps up (no backlog grows over the window), high enough that one
    * micro-batch holds tens of blocks. A 16 s window gives 400 latency
    * samples, so p95 has 20 samples beyond it (200 is the fewest for 10).
    */
  val Rate = 25.0
  /** Seconds of pushing before the measured blocks. The first micro-batches
    * after the idle catch-up fall wherever the first blocks do, and the
    * JIT is still compiling the per-batch path: latency falls by a third
    * over the first 10 s of pushing, so the window starts after it. */
  val LeadInS = 12.0
  val ReorgDepth = 16
  val Reorgs = 1
  /** Error-restart penalty the loop sleeps before re-subscribing. */
  val PenaltyMs = 100L

  /** One indexer instance against its own feed and broadcast. */
  private final class Rig(ctx: Ctx, windowBlocks: Long) {
    val chain = new LiveChain(ctx.seed)
    val feed = new FeedServer(chain, History, windowBlocks, Rate)
    val bcast = new TxHashBroadcastServer()
    val sub = new HashSubscriber(chain, bcast.boundPort)
    val health = new HealthState(staleAfterMs = 600000L)
    val (table, staging, feedDir, ck) =
      (ctx.freshDir("table"), ctx.freshDir("staging"), ctx.freshDir("feed"), ctx.freshDir("ck"))
    /** The (block, generation) whose landing ends the loop, once set. */
    @volatile private var stopAt: Option[(Long, Int)] = None
    @volatile private var result: Either[Throwable, LiveImportLoop.Result] = null

    private def landed(b: Long, g: Int): Boolean =
      sub.doneNs(b, g).isDefined &&
        Ctx.parquetFiles(table) > 0 &&
        ctx.spark.read.parquet(table).where(col("block") === b).select("event_id")
          .collect().map(_.getLong(0)).toSet == chain.ids(b, g).toSet

    private val runner = new Thread(() => {
      result = try Right(LiveImportLoop.run(ctx.spark, "127.0.0.1", feed.port, 1L,
        table, staging, feedDir, ck,
        converged = () => stopAt.exists { case (b, g) => landed(b, g) },
        broadcast = Some(bcast), health = Some(health),
        maxRounds = Reorgs + 2, errorPenaltyBaseMs = PenaltyMs, errorPenaltyCapMs = PenaltyMs))
      catch { case t: Throwable => Left(t) }
    }, "bench-live-loop")
    runner.setDaemon(true)

    def start(): Unit = runner.start()
    def awaitBroadcast(b: Long, g: Int, timeoutS: Double): Long = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (sub.doneNs(b, g).isEmpty && runner.isAlive && System.nanoTime() < deadline) Thread.sleep(1)
      sub.doneNs(b, g).getOrElse(sys.error(s"live: block $b (generation $g) was not broadcast; loop: $result"))
    }
    def finish(b: Long, g: Int): LiveImportLoop.Result = {
      stopAt = Some((b, g))
      runner.join(120000)
      if (runner.isAlive) sys.error("live: the import loop did not converge")
      result.fold(t => throw t, identity)
    }
    def close(): Unit = {
      sub.close(); bcast.stop(); feed.stop()
      if (runner.isAlive) runner.interrupt()
    }
  }

  def run(ctx: Ctx): Outcome = {
    val windowBlocks = math.round(Rate * (LeadInS + ctx.seconds))
    // set-up: feed, broadcast and subscriber, started afresh each
    // repetition (the last one serves the run); then the history catch-up,
    // from subscribe to the last history block's hashes at the subscriber
    val rigs = (1 to Ctx.SetupReps).map(_ => Ctx.timed(new Rig(ctx, windowBlocks)))
    rigs.init.foreach(_._1.close())
    val rig = rigs.last._1
    try {
      val t0 = System.nanoTime()
      rig.start()
      val warmS = (rig.awaitBroadcast(History, 0, 120) - t0) / 1e9
      measure(ctx, rig).copy(setupS = rigs.map(_._2), warmS = warmS)
    } finally rig.close()
  }

  private def measure(ctx: Ctx, rig: Rig): Outcome = {
    val feed = rig.feed
    val sub = rig.sub
    val pushed = (History + 1) to feed.head
    val window = pushed.drop(math.round(Rate * LeadInS).toInt)
    // lag of the source behind the newest due block, sampled (traced only)
    var lagMax = 0L
    ctx.setTag("live.window")
    feed.startWindow(System.nanoTime() + 50000000L)
    ctx.tracer.span("live.window", "live") { _ =>
      while (System.nanoTime() < feed.windowEndNs) {
        if (ctx.tracer.enabled) {
          val now = System.nanoTime()
          val due = pushed.takeWhile(b => feed.dueNs(b) <= now).lastOption.getOrElse(History)
          lagMax = math.max(lagMax, due - rig.health.lastKnownBlock)
        }
        Thread.sleep(5)
      }
    }
    val (w0, w1) = (feed.dueNs(window.head), feed.windowEndNs)
    // let the backlog drain, then reorg the top of the chain, one at a time
    ctx.tracer.span("live.drain", "live") { _ => rig.awaitBroadcast(feed.head, 0, 60) }
    ctx.setTag("live.reorgs")
    val reorgAt = feed.head - ReorgDepth + 1
    val recoveries = (1 to Reorgs).map { g =>
      ctx.tracer.span("streaming.reorg", s"reorg$g") { _ =>
        val t0 = System.nanoTime()
        feed.reorg(reorgAt, g)
        val headNs = rig.awaitBroadcast(feed.head, g, 60)
        val magicNs = sub.magicNs.asScala.map(_.longValue).filter(_ >= t0).minOption.getOrElse(headNs)
        (t0, magicNs, headNs)
      }
    }
    val result = rig.finish(feed.head, Reorgs)
    ctx.setTag("")

    // correctness gates, after the clock: the table holds exactly the final
    // generation of every block, every final block was broadcast, and no id
    // entered the import feed twice
    val all = 1L to feed.head
    val finalIds = all.map(b => b -> rig.chain.ids(b, feed.gen(b)).toSet).toMap
    val landed = ctx.spark.read.parquet(rig.table).select("block", "event_id").collect()
      .groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSeq }
    val feedDupIds = ImportFeed.recentlyImported(ctx.spark, rig.feedDir)
      .groupBy("event_id").agg(count(lit(1)).as("n")).where(col("n") > 1)
      .select("event_id").collect().map(r => rig.chain.blockOf(r.getLong(0))).toSet
    val failedBlocks = all.count { b =>
      val got = landed.getOrElse(b, Nil)
      got.size != finalIds(b).size || got.toSet != finalIds(b) ||
        sub.doneNs(b, feed.gen(b)).isEmpty || feedDupIds(b)
    }
    if (failedBlocks > 0) System.err.println(s"[graftbench] live: $failedBlocks blocks failed the gates")

    val dues = window.map(feed.dueNs)
    val lat = Stats.dueLatenciesMs(dues, i => sub.doneNs(window(i), 0), w1)
    // the window's latencies, one median per second of due time
    System.err.println("[graftbench] live latency by second (ms): " +
      lat.grouped(math.round(Rate).toInt).map(s => f"${Stats.median(s)}%.0f").mkString(" "))
    // delivered rate: window blocks over the window plus the median delay.
    // Counting broadcasts would step with each micro-batch; this tracks the
    // offered rate (diluted by the delay) and falls as a backlog builds
    val e2e = Outcome.endToEnd(window.size / ((w1 - w0) / 1e9 + Stats.median(lat) / 1e3), lat)
    val layers =
      if (!ctx.tracer.enabled) Nil
      else traced(ctx, rig, window, lat, lagMax, recoveries, result, w0, w1)
    Outcome(Nil, 0.0, attempted = all.size.toLong, failed = failedBlocks, e2e, layers)
  }

  private def traced(ctx: Ctx, rig: Rig, window: IndexedSeq[Long], lat: Seq[Double], lagMax: Long,
                     recoveries: Seq[(Long, Long, Long)], result: LiveImportLoop.Result,
                     w0: Long, w1: Long): Seq[(String, Double, String)] = {
    val probe = ctx.probe.get
    probe.drain()
    val feed = rig.feed
    // the batches of the window's query (the loop's first round), and of
    // those the ones that started inside the window
    val startNs = WallClock.startNs _
    val roundBatches = {
      val all = probe.batches.map(_._2).filter(_.numInputRows > 0)
      all.filter(_.runId == all.head.runId).sortBy(_.sources.head.endOffset.toLong).toIndexedSeq
    }
    val batches = roundBatches.filter(p => startNs(p) >= w0 && startNs(p) < w1)
    def dur(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.asScala.get(k).map(_.longValue.toDouble).getOrElse(0.0)
    // which batch read each window block: stream offsets count rows on the
    // connection, and the feed logged each block's end offset as it sent it
    val log = feed.sent.asScala.head.toIndexedSeq
    val endOffset = log.map { case (b, end, _) => b -> end }.toMap
    val batchEnds = roundBatches.map(_.sources.head.endOffset.toLong)
    val waits = window.flatMap { b =>
      Stats.holderOf(roundBatches, batchEnds, endOffset(b) - 1).map(p => (startNs(p) - feed.dueNs(b)) / 1e6)
    }
    val lateMs = log.filter(_._1 > History).map { case (b, _, at) => (at - feed.dueNs(b)) / 1e6 }
    // backlog: blocks due but not yet broadcast, averaged over the window
    val backlog = window.map { b =>
      val d = feed.dueNs(b)
      math.max(0L, math.min(rig.sub.doneNs(b, 0).getOrElse(w1), w1) - d)
    }.sum / 1e9 / ((w1 - w0) / 1e9)
    val windowJobs = probe.jobsWhere(j => j.tag == "live.window" && j.startNs >= w0 && j.startNs < w1)
    val samplesBeyondP95 = Stats.samplesBeyond(lat.size, 95)
    Seq(
      ("sources.offsets_s", batches.map(p => dur(p, "latestOffset") + dur(p, "getBatch")).sum / 1e3, "s"),
      ("sources.buffer_high_water_rows",
        Ctx.gauge("graft_live_buffer_high_water_rows", s"127.0.0.1:${feed.port}"), "rows"),
      ("sources.lag_blocks_max", lagMax.toDouble, "blocks"),
      ("sources.gen_late_ms_max", if (lateMs.isEmpty) 0.0 else lateMs.max, "ms"),
      ("plans.batch_planning_ms_p50", Stats.median(batches.map(dur(_, "queryPlanning"))), "ms"),
      ("streaming.batches", batches.size.toDouble, "count"),
      ("streaming.rows_per_batch_p50", Stats.median(batches.map(_.numInputRows.toDouble)), "rows"),
      ("streaming.queue_wait_ms_p50", Stats.median(waits), "ms"),
      ("streaming.add_batch_ms_p50", Stats.median(batches.map(dur(_, "addBatch"))), "ms"),
      ("streaming.add_batch_ms_p90", Stats.percentile(batches.map(dur(_, "addBatch")), 90), "ms"),
      ("streaming.wal_ms_p50", Stats.median(batches.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms"),
      ("streaming.jobs_per_batch", windowJobs.size.toDouble / math.max(1, batches.size), "jobs/batch"),
      ("streaming.table_files", Ctx.parquetFiles(rig.table).toDouble, "count"),
      ("streaming.feed_files", Ctx.parquetFiles(rig.feedDir).toDouble, "count"),
      ("streaming.backlog_blocks", backlog, "blocks"),
      ("streaming.latency_p95_samples_beyond", samplesBeyondP95.toDouble, "count"),
      ("streaming.reorg_recovery_s", Stats.median(recoveries.map { case (t0, _, h) => (h - t0) / 1e9 }), "s"),
      ("streaming.reorg_detect_ms", Stats.median(recoveries.map { case (t0, m, _) => (m - t0) / 1e6 }), "ms"),
      ("streaming.reorg_reimport_s", Stats.median(recoveries.map { case (_, m, h) => (h - m) / 1e9 }), "s"),
      ("streaming.rounds", result.rounds.toDouble, "count")
    ) ++ SparkMetrics.of(windowJobs, w0, w1)
  }
}
