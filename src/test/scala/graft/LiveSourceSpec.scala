package graft

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.StreamingQueryException
import graft.streaming.{BlockTimer, EventPipeline, HealthState, ImportFeed, LiveImportLoop, TxHashBroadcastServer}

/** The live push-source end-to-end: a real TCP feed server drives the
  * `graft-live` DataSourceV2 source through classify → complete-block-gated
  * import → feed/broadcast/health fan-out, including the reorg restart arc
  * (Sources/LiveSource.cs + Indexer.cs:195 contracts).
  */
class LiveSourceSpec extends SparkSpec {

  /** Newline-JSON feed server. Each accepted connection reads the
    * subscribe request, then streams `script(round, from)`'s lines and
    * keeps the connection open (a push head never closes by itself) —
    * unless `dropAfter(round)`, which closes it to exercise the
    * reconnect contract. Accepted sockets are HELD (not left to GC: a
    * finalized socket closes, and a surprise mid-test EOF is exactly the
    * failure mode the connection-closed contract now makes loud).
    */
  private final class TestFeedServer(script: (Int, Long) => Seq[String],
                                     dropAfter: Int => Boolean = _ => false) {
    private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    val subscribes = new ConcurrentLinkedQueue[Long]()
    private val held = new ConcurrentLinkedQueue[Socket]()
    @volatile private var running = true
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
          if (dropAfter(round)) sock.close() // deliberate mid-stream drop
          round += 1
          // otherwise keep open: the source decides when to hang up
        } catch { case _: Throwable if !running => case _: java.io.IOException => }
      }
    }, "test-feed-server")
    t.setDaemon(true)
    t.start()
    def port: Int = server.getLocalPort
    def stop(): Unit = {
      running = false
      server.close()
      held.forEach(s => try s.close() catch { case _: java.io.IOException => })
    }
  }

  private val baseUs = 1700000000000000L // fixed epoch anchor, µs
  private def ev(block: Long, id: Long, user: Long, et: String, value: Double, n: Long): String =
    s"""{"block":$block,"event_id":$id,"ts_us":${baseUs + id * 1000000L},""" +
      s""""user_id":$user,"event_type":"$et","value":$value,"n_in_block":$n}"""

  private def tmp(): String = tempDir("livesrc")

  private def tableBlocks(tableDir: String): Map[Long, Set[Long]] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(tableDir))) Map.empty
    else spark.read.parquet(tableDir).select("block", "event_id").collect()
      .groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSet }
  }

  test("push feed → gated import: complete blocks land, incomplete block held, feed/broadcast/health fan out") {
    val root = tmp()
    val (tableDir, stagingDir, feedDir, ckRoot) =
      (s"$root/table", s"$root/staging", s"$root/feed", s"$root/ck")
    val feed = new TestFeedServer((_, from) => {
      assert(from === 1L)
      Seq(
        ev(1, 11, 1, "transfer", 1.0, 2), ev(1, 12, 2, "trust", 2.0, 2),
        ev(2, 21, 1, "mint", 3.0, 2), ev(2, 22, 3, "transfer", 4.0, 2),
        """{"head":3}""",
        ev(3, 31, 2, "transfer", 5.0, 2), ev(3, 32, 1, "trust", 6.0, 2),
        // block 4 declares 2 events but only 1 arrives: must be HELD, not imported
        ev(4, 41, 4, "transfer", 7.0, 2))
    })
    val bcast = new TxHashBroadcastServer()
    val received = new ConcurrentLinkedQueue[String]()
    val sub = new Socket(InetAddress.getLoopbackAddress, bcast.boundPort)
    sub.setSoTimeout(60000)
    val subReader = new Thread(() => {
      try {
        val r = new BufferedReader(
          new InputStreamReader(sub.getInputStream, StandardCharsets.UTF_8))
        var l = r.readLine()
        while (l != null) { received.add(l); l = r.readLine() }
      } catch { case _: java.io.IOException => }
    }, "bcast-subscriber")
    subReader.setDaemon(true)
    subReader.start()
    val health = new HealthState(staleAfterMs = 600000L)
    try {
      val res = LiveImportLoop.run(
        spark, "127.0.0.1", feed.port, fromBlock = 1L,
        tableDir, stagingDir, feedDir, ckRoot,
        // ALSO gate on the duration stamp: the watcher may otherwise stop
        // the query in the window between the table append and the
        // onGroupsImported hook, and the BlockTimer assertion below races
        // (caught running this test solo — suite-parallel runs masked it
        // because other suites stamp the process-global gauge)
        converged = () => tableBlocks(tableDir).values.map(_.size).sum == 6 &&
          BlockTimer.lastDurationMs > 0.0,
        broadcast = Some(bcast), health = Some(health),
        idleTimeoutMs = 600000, errorPenaltyBaseMs = 10)
      assert(res.reorgs.isEmpty)

      val blocks = tableBlocks(tableDir)
      assert(blocks === Map(
        1L -> Set(11L, 12L), 2L -> Set(21L, 22L), 3L -> Set(31L, 32L)))
      // classification column rode through the streaming classify
      val cls = spark.read.parquet(tableDir).select("classification").collect()
      assert(cls.forall(!_.isNullAt(0)))

      // the feed holds exactly the imported ids (poll contract)
      val feedIds = ImportFeed.recentlyImported(spark, feedDir)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(feedIds === Set(11L, 12L, 21L, 22L, 31L, 32L))

      // every imported id reached the push subscriber as a 0x-hex hash
      val deadline = System.nanoTime() + 30e9.toLong
      def hashesSeen: Set[String] = received.toArray(Array.empty[String]).toSet
        .flatMap((l: String) => """0x[0-9a-f]{64}""".r.findAllIn(l).toSet)
      val expectedHashes = Set(11L, 12L, 21L, 22L, 31L, 32L)
        .map(id => f"0x$id%064x")
      while (!expectedHashes.subsetOf(hashesSeen) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(expectedHashes.subsetOf(hashesSeen))

      // health: source frontier reached block 4, import frontier the max id
      assert(health.lastKnownBlock === 4L)
      assert(health.lastImportedKey === 32L)
      assert(health.healthy)

      // the Statistics.cs duration arc fired end-to-end: blocks entered at
      // the source, written through the gated import's onGroupsImported
      // hook — the last completed block stamped a positive duration, and
      // block 4 (held, never written) is still pending
      // (no pending-count assertion: BlockTimer is process-global like the
      // reference's Statistics statics, and sbt runs suites in parallel —
      // WireApiSpec's own enters would race an exact count)
      assert(BlockTimer.lastDurationMs > 0.0,
        "no block stamped an import duration")
    } finally {
      feed.stop(); bcast.stop(); sub.close()
    }
  }

  test("a skipped block fails the stream with the missed-block contract") {
    val root = tmp()
    val feed = new TestFeedServer((_, _) => Seq(
      ev(1, 11, 1, "transfer", 1.0, 1),
      ev(3, 31, 2, "transfer", 2.0, 1))) // block 2 never announced
    try {
      val events = spark.readStream.format("graft-live")
        .option("host", "127.0.0.1").option("port", feed.port)
        .option("subscribeFrom", 1L).option("idleTimeoutMs", 600000)
        .load()
      val q = events.writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck").start()
      val e = intercept[StreamingQueryException] { q.awaitTermination() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("missed at least one block")))
    } finally feed.stop()
  }

  test("an idle feed fails the stream after the timeout (LiveSource.cs 20s contract)") {
    val root = tmp()
    val feed = new TestFeedServer((_, _) => Seq.empty) // connects, then silence
    try {
      val events = spark.readStream.format("graft-live")
        .option("host", "127.0.0.1").option("port", feed.port)
        .option("subscribeFrom", 1L).option("idleTimeoutMs", 500)
        .load()
      val q = events.writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck").start()
      val e = intercept[StreamingQueryException] { q.awaitTermination() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("Received no new block")))
    } finally feed.stop()
  }

  test("a dropped connection reconnects from the table frontier, no truncation") {
    // the head never closes by itself: round 0 serves blocks 1-2 then the
    // server DROPS the connection — the loop must fail the round with the
    // connection-closed contract and resubscribe (no reorg, no truncate),
    // finishing the history on the next connection
    val root = tmp()
    val (tableDir, stagingDir, feedDir, ckRoot) =
      (s"$root/table", s"$root/staging", s"$root/feed", s"$root/ck")
    def block(b: Long) = Seq(
      ev(b, b * 10 + 1, 1, "transfer", 1.0, 2), ev(b, b * 10 + 2, 2, "trust", 2.0, 2))
    val feed = new TestFeedServer(
      (round, from) =>
        if (round == 0) (1L to 2L).flatMap(block)
        else (from to 4L).flatMap(block),
      dropAfter = _ == 0)
    try {
      val res = LiveImportLoop.run(
        spark, "127.0.0.1", feed.port, fromBlock = 1L,
        tableDir, stagingDir, feedDir, ckRoot,
        converged = () => tableBlocks(tableDir).keySet == Set(1L, 2L, 3L, 4L),
        idleTimeoutMs = 600000, maxRounds = 6, errorPenaltyBaseMs = 10)
      assert(res.reorgs.isEmpty, "a dropped connection is not a reorg")
      assert(res.reconnects >= 1, "the drop must be surfaced as a reconnect")
      assert(tableBlocks(tableDir) === Map(
        1L -> Set(11L, 12L), 2L -> Set(21L, 22L),
        3L -> Set(31L, 32L), 4L -> Set(41L, 42L)))
      val subs = subscribes(feed)
      assert(subs.head === 1L)
      assert(subs.length >= 2, "a second connection must have been made")
      assert(subs.tail.forall(_ >= 1L), "resubscribe comes from the table frontier")
    } finally feed.stop()
  }

  test("error-restart penalty: escalates across consecutive errored rounds, resets on import, caps") {
    // the pure policy (Settings.cs:171-172 — 5 s doubling to the 4-min cap,
    // reset on a round that imported anything)
    val p = new LiveImportLoop.ErrorRestartPenalty(baseMs = 5000, capMs = 240000)
    assert(p.nextSleep(importedSinceLastError = false) === 5000L)
    assert(p.nextSleep(importedSinceLastError = false) === 10000L)
    assert(p.nextSleep(importedSinceLastError = false) === 20000L)
    assert(p.nextSleep(importedSinceLastError = true) === 5000L, "reset on import")
    (1 to 10).foreach(_ => p.nextSleep(importedSinceLastError = false))
    assert(p.nextSleep(importedSinceLastError = false) === 240000L, "capped at 4 min")
  }

  test("flapping endpoint: the loop rides out consecutive drops with escalating penalties") {
    // r12 verdict #2 done-criterion: N induced drops, the loop survives
    // without exhausting maxRounds, penalties observed escalating. The
    // first THREE connections drop before serving any complete block
    // (nothing imports → consecutive errored rounds), then the feed serves
    // to convergence.
    val root = tmp()
    val (tableDir, stagingDir, feedDir, ckRoot) =
      (s"$root/table", s"$root/staging", s"$root/feed", s"$root/ck")
    def block(b: Long) = Seq(
      ev(b, b * 10 + 1, 1, "transfer", 1.0, 2), ev(b, b * 10 + 2, 2, "trust", 2.0, 2))
    val feed = new TestFeedServer(
      (round, from) => if (round < 3) Seq.empty else (from to 2L).flatMap(block),
      dropAfter = _ < 3)
    try {
      val res = LiveImportLoop.run(
        spark, "127.0.0.1", feed.port, fromBlock = 1L,
        tableDir, stagingDir, feedDir, ckRoot,
        converged = () => tableBlocks(tableDir).keySet == Set(1L, 2L),
        idleTimeoutMs = 600000, maxRounds = 8, errorPenaltyBaseMs = 20)
      assert(res.reconnects === 3)
      assert(res.rounds < 8, "the budget must survive the flap")
      assert(res.penaltiesMs === Seq(20L, 40L, 80L),
        "consecutive errored rounds must sleep escalating penalties")
      assert(tableBlocks(tableDir) === Map(1L -> Set(11L, 12L), 2L -> Set(21L, 22L)))
    } finally feed.stop()
  }

  test("reorg restart arc: magic-hash broadcast, partition truncate, corrected re-import") {
    val root = tmp()
    val (tableDir, stagingDir, feedDir, ckRoot) =
      (s"$root/table", s"$root/staging", s"$root/feed", s"$root/ck")
    // round 0: blocks 1-2, then the reorg signal at block 2.
    // round 1+: corrected history from wherever the loop resumes — block 2
    // now carries DIFFERENT events (the chain rewrote it), then 3 and 4.
    def corrected(b: Long): Seq[String] = b match {
      case 1L => Seq(ev(1, 11, 1, "transfer", 1.0, 2), ev(1, 12, 2, "trust", 2.0, 2))
      case 2L => Seq(ev(2, 2001, 1, "mint", 9.0, 2), ev(2, 2002, 3, "transfer", 9.5, 2))
      case 3L => Seq(ev(3, 31, 2, "transfer", 5.0, 2), ev(3, 32, 1, "trust", 6.0, 2))
      case 4L => Seq(ev(4, 41, 4, "transfer", 7.0, 2), ev(4, 42, 5, "mint", 8.0, 2))
      case _ => Seq.empty
    }
    val feed = new TestFeedServer((round, from) =>
      if (round == 0)
        Seq(
          ev(1, 11, 1, "transfer", 1.0, 2), ev(1, 12, 2, "trust", 2.0, 2),
          ev(2, 21, 1, "mint", 3.0, 2), ev(2, 22, 3, "transfer", 4.0, 2),
          """{"reorg":2}""")
      else (from to 4L).flatMap(corrected))
    val bcast = new TxHashBroadcastServer()
    val received = new ConcurrentLinkedQueue[String]()
    val sub = new Socket(InetAddress.getLoopbackAddress, bcast.boundPort)
    sub.setSoTimeout(60000)
    val subReader = new Thread(() => {
      try {
        val r = new BufferedReader(
          new InputStreamReader(sub.getInputStream, StandardCharsets.UTF_8))
        var l = r.readLine()
        while (l != null) { received.add(l); l = r.readLine() }
      } catch { case _: java.io.IOException => }
    }, "bcast-subscriber-reorg")
    subReader.setDaemon(true)
    subReader.start()
    try {
      val res = LiveImportLoop.run(
        spark, "127.0.0.1", feed.port, fromBlock = 1L,
        tableDir, stagingDir, feedDir, ckRoot,
        converged = () => {
          val b = tableBlocks(tableDir)
          b.keySet == Set(1L, 2L, 3L, 4L) && b(2L) == Set(2001L, 2002L)
        },
        broadcast = Some(bcast),
        idleTimeoutMs = 600000, maxRounds = 6, errorPenaltyBaseMs = 10)
      assert(res.reorgs === Seq(2L))

      val blocks = tableBlocks(tableDir)
      assert(blocks === Map(
        1L -> Set(11L, 12L), 2L -> Set(2001L, 2002L),
        3L -> Set(31L, 32L), 4L -> Set(41L, 42L)))
      // the pre-reorg block-2 events are fully gone from the table
      val allIds = blocks.values.flatten.toSet
      assert(!allIds.contains(21L) && !allIds.contains(22L))

      // the subscriber saw the magic-hash invalidation line
      val deadline = System.nanoTime() + 30e9.toLong
      def sawReorg: Boolean = received.toArray(Array.empty[String])
        .exists(_.contains(EventPipeline.ReorgMagicHash))
      while (!sawReorg && System.nanoTime() < deadline) Thread.sleep(50)
      assert(sawReorg)

      // the second subscribe resumed from the table-derived frontier, not 1
      val subs = subscribes(feed)
      assert(subs.head === 1L)
      assert(subs.tail.forall(_ >= 1L))
    } finally {
      feed.stop(); bcast.stop(); sub.close()
    }
  }

  test("transient wire faults ride the source-level retry arm: reconnect with escalating observable backoff, stream never fails") {
    // r13 VERDICT item 6: a malformed frame/line used to fail the stream on
    // first occurrence. Rounds 0 and 1 end in a MALFORMED JSON line (a
    // transient wire fault, not a drop); round 2 serves clean. The source
    // must ride out both faults inside the reader (no StreamingQueryException),
    // resubscribing from the highest admitted block, with the penalty arc
    // observable on the metrics surface.
    val root = tmp()
    def block(b: Long) = Seq(
      ev(b, b * 10 + 1, 1, "transfer", 1.0, 2), ev(b, b * 10 + 2, 2, "trust", 2.0, 2))
    val feed = new TestFeedServer((round, from) =>
      if (round == 0) block(1) :+ """{malformed garbage"""
      else if (round == 1) Seq("""{malformed again""")
      else (from to 2L).flatMap(block))
    val endpoint = s"127.0.0.1:${feed.port}"
    val retries = graft.streaming.Metrics.counter(
      "graft_live_retries_total",
      "Transient live-source faults ridden out by reconnect with backoff.", "endpoint")
    val backoff = graft.streaming.Metrics.gauge(
      "graft_live_retry_backoff_ms",
      "Current live-source reconnect backoff (resets on a healthy line).", "endpoint")
    // sample the backoff gauge from a side thread so the escalation
    // (200 → 400) is observed even though a healthy line later resets it
    val observed = new ConcurrentLinkedQueue[Long]()
    @volatile var sampling = true
    val sampler = new Thread(() => {
      while (sampling) {
        val v = backoff.labels(endpoint).value.toLong
        if (v > 0 && (observed.isEmpty || observed.toArray.last != v)) observed.add(v)
        Thread.sleep(5)
      }
    }, "backoff-sampler")
    sampler.setDaemon(true)
    sampler.start()
    try {
      val events = spark.readStream.format("graft-live")
        .option("host", "127.0.0.1").option("port", feed.port)
        .option("subscribeFrom", 1L).option("idleTimeoutMs", 600000)
        .option("maxRetries", 3).option("retryBaseMs", 200L)
        .load()
      val q = events.writeStream.format("memory").queryName("flapsink")
        .option("checkpointLocation", s"$root/ck").start()
      val deadline = System.nanoTime() + 60e9.toLong
      def ids(): Set[Long] = spark.sql("select distinct event_id from flapsink")
        .collect().map(_.getLong(0)).toSet
      while (!ids().contains(22L) && System.nanoTime() < deadline) {
        q.processAllAvailable()
        Thread.sleep(50)
      }
      assert(q.exception.isEmpty, s"the retry arm must absorb transient faults: ${q.exception}")
      assert(ids() === Set(11L, 12L, 21L, 22L),
        "all blocks land exactly once at the id grain (replays dedup downstream)")
      q.stop()
      // two faults, two observable retries; resubscribes came from the
      // highest admitted block (1), not from scratch and not skipping
      assert(retries.labels(endpoint).value === 2.0)
      assert(subscribes(feed) === Seq(1L, 1L, 1L))
      val esc = observed.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq
      assert(esc.containsSlice(Seq(200L, 400L)),
        s"backoff must escalate base→2×base across consecutive faults, saw $esc")
    } finally {
      sampling = false
      feed.stop()
    }
  }

  test("persistent wire faults still fail the stream loudly after maxRetries") {
    val root = tmp()
    val feed = new TestFeedServer((_, _) => Seq("""{never valid"""))
    try {
      val events = spark.readStream.format("graft-live")
        .option("host", "127.0.0.1").option("port", feed.port)
        .option("subscribeFrom", 1L).option("idleTimeoutMs", 600000)
        .option("maxRetries", 1).option("retryBaseMs", 10L)
        .load()
      val q = events.writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck").start()
      val e = intercept[StreamingQueryException] { q.awaitTermination() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(m =>
        m.contains("Unexpected character") || m.contains("malformed") ||
          m.contains("JsonParseException") || m.toLowerCase.contains("json")),
        s"the LAST fault must propagate, got: ${messages(e)}")
    } finally feed.stop()
  }

  private def subscribes(f: TestFeedServer): Seq[Long] = {
    val it = f.subscribes.iterator()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (it.hasNext) out += it.next()
    out.toSeq
  }
}
