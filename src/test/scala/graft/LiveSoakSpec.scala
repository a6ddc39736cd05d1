package graft

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.functions._
import graft.streaming.{EventPipeline, HealthServer, HealthState, ImportFeed, LiveImportLoop, TxHashBroadcastServer}

/** Sustained-run soak of the live import loop (r11 verdict item 4): a
  * multi-thousand-block feed with TWO mid-stream reorgs (each restart is a
  * real reconnect — fresh TCP connection, catch-up-then-follow resubscribe
  * from the TABLE-derived frontier), with the gated import, ImportFeed,
  * TxHashBroadcastServer and HealthServer all attached — the reference's
  * Indexer.Run arc (Indexer.cs:195) held at duration, not per-scenario.
  *
  * History generations: blocks < 1000 are never rewritten (gen-0 ids);
  * the first reorg at block 1000 rewrites 1000..1499 onto gen-1 ids; the
  * second at 1500 rewrites 1500..2000 onto gen-2. The final table must
  * hold exactly the generation-correct ids for all 2000 blocks — stale
  * pre-reorg rows truncated, nothing re-imported twice (feed dedup).
  */
class LiveSoakSpec extends SparkSpec {

  private val Blocks = 2000L
  private val baseUs = 1700000000000000L

  /** Generation-correct event ids for a block (2 events per block). */
  private def ids(b: Long): Seq[Long] = {
    val gen = if (b < 1000L) 0L else if (b < 1500L) 5000000L else 9000000L
    Seq(gen + b * 10L, gen + b * 10L + 1L)
  }

  /** Pre-reorg (gen-0) spelling of a block — what rounds send BEFORE the
    * reorg that rewrites it. */
  private def staleIds(b: Long): Seq[Long] = Seq(b * 10L, b * 10L + 1L)

  private def evLine(b: Long, id: Long): String =
    s"""{"block":$b,"event_id":$id,"ts_us":${baseUs + id * 1000L},""" +
      s""""user_id":${id % 97L},"event_type":"transfer","value":${(id % 13L).toDouble},"n_in_block":2}"""

  private def blockLines(b: Long, idsOf: Long => Seq[Long]): Seq[String] =
    idsOf(b).map(id => evLine(b, id))

  /** Newline-JSON feed server (the LiveSourceSpec harness, scripted per
    * round). round 0: gen-0 history to 1200, reorg at 1000. round 1:
    * catch-up from the subscribe frontier (gen-1 spelling for >=1000) to
    * 1600, reorg at 1500. round 2+: full corrected history to the head.
    */
  private final class SoakFeed {
    private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    val subscribes = new ConcurrentLinkedQueue[Long]()
    // hold accepted sockets: a GC-finalized socket closes and would turn a
    // kept-open head into a surprise reconnect mid-soak
    private val held = new ConcurrentLinkedQueue[java.net.Socket]()
    @volatile private var running = true
    private def script(round: Int, from: Long): Seq[String] = round match {
      case 0 =>
        (from to 1200L).flatMap(b => blockLines(b, staleIds)) :+ """{"reorg":1000}"""
      case 1 =>
        (from to 1600L).flatMap(b =>
          blockLines(b, x => if (x < 1500L) ids(x) else staleIds(x).map(_ + 5000000L))) :+
          """{"reorg":1500}"""
      case _ =>
        (from to Blocks).flatMap(b => blockLines(b, ids))
    }
    private val t = new Thread(() => {
      var round = 0
      while (running) {
        try {
          val sock = server.accept()
          held.add(sock)
          val in = new BufferedReader(
            new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
          val out = new BufferedWriter(
            new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
          val req = in.readLine()
          val from = """"subscribe"\s*:\s*(\d+)""".r
            .findFirstMatchIn(req).map(_.group(1).toLong).getOrElse(0L)
          subscribes.add(from)
          script(round, from).foreach { l => out.write(l); out.write("\n") }
          out.flush()
          round += 1
          // keep open: the source decides when to hang up
        } catch { case _: Throwable if !running => case _: java.io.IOException => }
      }
    }, "soak-feed-server")
    t.setDaemon(true)
    t.start()
    def port: Int = server.getLocalPort
    def stop(): Unit = {
      running = false
      server.close()
      held.forEach(s => try s.close() catch { case _: java.io.IOException => })
    }
  }

  private def httpGet(port: Int, path: String): (Int, String) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(5000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(is.readAllBytes(), StandardCharsets.UTF_8)
    conn.disconnect()
    (code, body)
  }

  test("soak: 2000 blocks, two reorg reconnects, feed dedup, health end-to-end") {
    val root = tempDir("livesoak")
    val (tableDir, stagingDir, feedDir, ckRoot) =
      (s"$root/table", s"$root/staging", s"$root/feed", s"$root/ck")
    val feed = new SoakFeed
    val bcast = new TxHashBroadcastServer()
    val health = new HealthState(staleAfterMs = 600000L)
    val httpHealth = HealthServer.start(health)
    val received = new ConcurrentLinkedQueue[String]()
    val sub = new Socket(InetAddress.getLoopbackAddress, bcast.boundPort)
    sub.setSoTimeout(120000)
    val subReader = new Thread(() => {
      try {
        val r = new BufferedReader(
          new InputStreamReader(sub.getInputStream, StandardCharsets.UTF_8))
        var l = r.readLine()
        while (l != null) { received.add(l); l = r.readLine() }
      } catch { case _: java.io.IOException => }
    }, "soak-bcast-subscriber")
    subReader.setDaemon(true)
    subReader.start()

    val expectedMaxId = ids(Blocks).max
    val fsPath = new org.apache.hadoop.fs.Path(tableDir)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def frontier(): (Long, Long) =
      if (!fs.exists(fsPath)) (0L, 0L)
      else {
        val r = spark.read.parquet(tableDir)
          .agg(count(lit(1)), max(col("event_id"))).collect()(0)
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }

    try {
      // pre-run health: no import yet → unhealthy, both in-process and wired
      assert(!health.healthy)
      assert(httpGet(httpHealth.port, "/health")._1 === 500)

      val res = LiveImportLoop.run(
        spark, "127.0.0.1", feed.port, fromBlock = 1L,
        tableDir, stagingDir, feedDir, ckRoot,
        converged = () => frontier() == (Blocks * 2, expectedMaxId),
        broadcast = Some(bcast), health = Some(health),
        idleTimeoutMs = 600000, maxRounds = 8, errorPenaltyBaseMs = 10)

      assert(res.reorgs === Seq(1000L, 1500L))
      assert(res.rounds <= 8)

      // table frontier: every block present exactly once with its
      // generation-correct ids — stale pre-reorg rows fully truncated
      val table = spark.read.parquet(tableDir)
      assert(table.count() === Blocks * 2)
      val badRows = table.select(col("block"), col("event_id")).collect()
        .filterNot(r => ids(r.getLong(0)).contains(r.getLong(1)))
      assert(badRows.isEmpty,
        s"rows from a reorged-away generation survived: ${badRows.take(5).mkString(", ")}")
      assert(table.select("block").distinct().count() === Blocks)

      // feed dedup at duration: across 3 connections and 2 replays, no
      // event id was granted twice (the gated import's anti-join is the
      // re-delivery safety — resent already-imported blocks never re-land)
      val feedCounts = ImportFeed.recentlyImported(spark, feedDir)
        .groupBy("event_id").count().where(col("count") > 1).count()
      assert(feedCounts === 0L, "an event id entered the import feed twice")
      // every finally-live id was granted through the feed
      val feedIds = ImportFeed.recentlyImported(spark, feedDir)
        .select("event_id").collect().map(_.getLong(0)).toSet
      val liveIds = (1L to Blocks).flatMap(ids).toSet
      assert(liveIds.subsetOf(feedIds))

      // push fan-out: both reorg sentinels reached the subscriber, plus
      // hash lines for the final-generation head blocks
      val deadline = System.nanoTime() + 60e9.toLong
      def lines = received.toArray(Array.empty[String])
      def reorgLines = lines.count(_.contains(EventPipeline.ReorgMagicHash))
      while (reorgLines < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(reorgLines === 2, "each reorg restart broadcasts the magic hash once")
      val headHash = f"0x$expectedMaxId%064x"
      while (!lines.exists(_.contains(headHash)) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(lines.exists(_.contains(headHash)))

      // health transitions: frontiers advanced to the head, now healthy —
      // in-process AND through the wire-served /health + /metrics
      assert(health.lastKnownBlock === Blocks)
      assert(health.lastImportedKey === expectedMaxId)
      assert(health.healthy)
      val (hc, hb) = httpGet(httpHealth.port, "/health")
      assert(hc === 200)
      assert(hb.contains("Healthy.") && hb.contains(s"Last known block: $Blocks"))
      val (mc, mb) = httpGet(httpHealth.port, "/metrics")
      assert(mc === 200 && mb.contains("graft_live_rows_total"))
    } finally {
      feed.stop(); bcast.stop(); sub.close(); httpHealth.stop()
    }
  }
}
