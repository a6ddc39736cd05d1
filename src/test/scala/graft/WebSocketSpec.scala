package graft

import java.io.ByteArrayInputStream
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import graft.streaming.{EventPipeline, TxHashBroadcastServer, WebSocket}
import org.apache.spark.sql.streaming.StreamingQueryException

/** RFC 6455 framing adapter: handshake vectors from the RFC itself,
  * frame round-trips across the three length encodings, and both wire
  * surfaces end-to-end — a websocket subscriber on the tx-hash broadcast
  * and the `graft-live` source over `transport=websocket`.
  */
class WebSocketSpec extends SparkSpec {

  test("Sec-WebSocket-Accept matches the RFC 6455 published example") {
    // §1.3: "dGhlIHNhbXBsZSBub25jZQ==" → "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    assert(WebSocket.acceptKeyOf("dGhlIHNhbXBsZSBub25jZQ==") ===
      "s3pPLMBiTxaQ9kYGzzhZRbK+xOo=")
  }

  test("frame round-trips: 7/16/64-bit lengths, masked and unmasked") {
    val mask = Some(Array[Byte](0x01, 0x02, 0x03, 0x04))
    for {
      n <- Seq(0, 1, 125, 126, 300, 65535, 65536, 70000)
      m <- Seq(None, mask)
    } {
      val payload = Array.tabulate[Byte](n)(i => (i % 251).toByte)
      val bytes = WebSocket.frame(WebSocket.OpText, payload, m)
      val Some((op, got)) = WebSocket.readFrame(new ByteArrayInputStream(bytes))
      assert(op === WebSocket.OpText, s"n=$n masked=${m.isDefined}")
      assert(got.toSeq === payload.toSeq, s"n=$n masked=${m.isDefined}")
    }
  }

  test("readTextMessage: answers ping, skips pong, stops at close") {
    val out = new java.io.ByteArrayOutputStream()
    val stream = new java.io.ByteArrayOutputStream()
    stream.write(WebSocket.frame(WebSocket.OpPing, "hi".getBytes, None))
    stream.write(WebSocket.frame(WebSocket.OpPong, Array.emptyByteArray, None))
    stream.write(WebSocket.textFrame("payload"))
    stream.write(WebSocket.frame(WebSocket.OpClose, Array.emptyByteArray, None))
    val in = new ByteArrayInputStream(stream.toByteArray)
    assert(WebSocket.readTextMessage(in, out) === Some("payload"))
    assert(WebSocket.readTextMessage(in, out) === None) // close frame
    // the pong answer to our ping went out before the text was returned
    val replies = new ByteArrayInputStream(out.toByteArray)
    val Some((op, body)) = WebSocket.readFrame(replies)
    assert(op === WebSocket.OpPong && new String(body) === "hi")
  }

  test("fragmented text messages reassemble, with control frames legal mid-sequence (§5.4)") {
    val out = new java.io.ByteArrayOutputStream()
    val stream = new java.io.ByteArrayOutputStream()
    // "hello world" as text(FIN=0) + cont(FIN=0) + cont(FIN=1), with a
    // ping injected BETWEEN fragments — §5.4 requires control frames be
    // processable mid-sequence
    stream.write(WebSocket.frame(WebSocket.OpText, "hel".getBytes, None, fin = false))
    stream.write(WebSocket.frame(WebSocket.OpPing, "mid".getBytes, None))
    stream.write(WebSocket.frame(WebSocket.OpCont, "lo wo".getBytes, None, fin = false))
    stream.write(WebSocket.frame(WebSocket.OpCont, "rld".getBytes, None, fin = true))
    // then an ordinary single-frame message rides the same stream
    stream.write(WebSocket.textFrame("next"))
    val in = new ByteArrayInputStream(stream.toByteArray)
    assert(WebSocket.readTextMessage(in, out) === Some("hello world"))
    assert(WebSocket.readTextMessage(in, out) === Some("next"))
    // the mid-sequence ping was answered with its pong before reassembly finished
    val Some((op, body)) = WebSocket.readFrame(new ByteArrayInputStream(out.toByteArray))
    assert(op === WebSocket.OpPong && new String(body) === "mid")

    // a masked fragmented sequence passes the server read path intact
    val m = Some(Array[Byte](0x11, 0x22, 0x33, 0x44))
    val ms = new java.io.ByteArrayOutputStream()
    ms.write(WebSocket.frame(WebSocket.OpText, "ab".getBytes, m, fin = false))
    ms.write(WebSocket.frame(WebSocket.OpCont, "cd".getBytes, m, fin = true))
    assert(WebSocket.readTextMessage(new ByteArrayInputStream(ms.toByteArray),
      new java.io.ByteArrayOutputStream(), requireMasked = true) === Some("abcd"))
  }

  test("fragmentation protocol violations fail loudly (§5.4/§5.5)") {
    val out = new java.io.ByteArrayOutputStream()
    // orphan continuation: no message in progress
    val orphan = WebSocket.frame(WebSocket.OpCont, "x".getBytes, None, fin = true)
    val eo = intercept[java.io.IOException] {
      WebSocket.readTextMessage(new ByteArrayInputStream(orphan), out)
    }
    assert(eo.getMessage.contains("no message in progress"))
    // a NEW data opcode while a fragmented message is open
    val overlap = new java.io.ByteArrayOutputStream()
    overlap.write(WebSocket.frame(WebSocket.OpText, "a".getBytes, None, fin = false))
    overlap.write(WebSocket.textFrame("b"))
    val ei = intercept[java.io.IOException] {
      WebSocket.readTextMessage(new ByteArrayInputStream(overlap.toByteArray), out)
    }
    assert(ei.getMessage.contains("inside a fragmented"))
    // a fragmented CONTROL frame (§5.5 forbids)
    val fragPing = WebSocket.frame(WebSocket.OpPing, "p".getBytes, None, fin = false)
    val ec = intercept[java.io.IOException] {
      WebSocket.readTextMessage(new ByteArrayInputStream(fragPing), out)
    }
    assert(ec.getMessage.contains("control frame"))
    // EOF mid-sequence is a loud error, never a silent partial message
    val eof = WebSocket.frame(WebSocket.OpText, "a".getBytes, None, fin = false)
    val ee = intercept[java.io.IOException] {
      WebSocket.readTextMessage(new ByteArrayInputStream(eof), out)
    }
    assert(ee.getMessage.contains("EOF inside"))
  }

  test("malformed frames fail loudly: fragmentation, oversize, non-text opcodes") {
    val out = new java.io.ByteArrayOutputStream()
    // FIN=0 on the strict single-frame read path (this adapter's writers
    // never fragment; reassembly lives in readTextMessage)
    val frag = WebSocket.textFrame("abc").clone()
    frag(0) = (frag(0) & 0x7f).toByte // clear FIN
    val e1 = intercept[java.io.IOException] {
      WebSocket.readFrame(new ByteArrayInputStream(frag))
    }
    assert(e1.getMessage.contains("single-frame"))
    // declared 64-bit length past the 64 MiB bound — must throw BEFORE
    // allocating (bounded-allocation doctrine)
    val huge = Array[Byte](0x81.toByte, 127.toByte,
      0, 0, 0, 1, 0, 0, 0, 0) // 2^32 bytes declared
    val e2 = intercept[java.io.IOException] {
      WebSocket.readFrame(new ByteArrayInputStream(huge))
    }
    assert(e2.getMessage.contains("64 MiB"))
    // a binary frame on the text feed is a contract violation, not a skip
    val bin = WebSocket.frame(0x2, Array[Byte](1, 2, 3), None)
    val e3 = intercept[java.io.IOException] {
      WebSocket.readTextMessage(new ByteArrayInputStream(bin), out)
    }
    assert(e3.getMessage.contains("unsupported websocket opcode"))
    // truncated mid-payload: clean EOF signal, never a partial message
    val cut = WebSocket.textFrame("payload").dropRight(3)
    assert(WebSocket.readFrame(new ByteArrayInputStream(cut)) === None)
  }

  test("server read path fails the connection on an unmasked client frame (§5.1)") {
    val unmasked = WebSocket.textFrame("""{"subscribe":1}""") // no mask bit
    val e = intercept[java.io.IOException] {
      WebSocket.readFrame(new ByteArrayInputStream(unmasked), requireMasked = true)
    }
    assert(e.getMessage.contains("unmasked"))
    // the same frame properly masked passes the same gate
    val masked = WebSocket.textFrame("""{"subscribe":1}""",
      Some(Array[Byte](0x0a, 0x0b, 0x0c, 0x0d)))
    val Some((op, body)) =
      WebSocket.readFrame(new ByteArrayInputStream(masked), requireMasked = true)
    assert(op === WebSocket.OpText && new String(body) === """{"subscribe":1}""")
  }

  test("ws transport honors the idle-timeout contract (LiveSource.cs 20s rule)") {
    // handshake succeeds, then silence: the frame read must hit the socket
    // SoTimeout and fail the stream with the same message as the TCP path
    val feed = new WsFeedServer((_, _) => Seq.empty)
    val root = tempDir("wsidle")
    try {
      val events = spark.readStream.format("graft-live")
        .option("host", "127.0.0.1").option("port", feed.port)
        .option("subscribeFrom", 1L).option("idleTimeoutMs", 500)
        .option("transport", "websocket")
        .load()
      val q = events.writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck").start()
      val e = intercept[StreamingQueryException] { q.awaitTermination() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("Received no new block")))
    } finally feed.stop()
  }

  test("tx-hash broadcast serves websocket subscribers: handshake, frames, reorg sentinel") {
    val srv = new TxHashBroadcastServer(webSocket = true)
    val sock = new Socket(InetAddress.getLoopbackAddress, srv.boundPort)
    sock.setSoTimeout(30000)
    try {
      WebSocket.clientHandshake(sock.getInputStream, sock.getOutputStream,
        s"127.0.0.1:${srv.boundPort}")
      // registration is async to the handshake; wait until the server holds us
      val deadline = System.nanoTime() + 10e9.toLong
      while (srv.connectionCount < 1 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(srv.connectionCount === 1)
      srv.broadcastImported(Iterator(42L, 43L))
      val msg = WebSocket.readTextMessage(sock.getInputStream, sock.getOutputStream)
      assert(msg === Some("[" + f""""0x${42L}%064x"""" + "," + f""""0x${43L}%064x"""" + "]"))
      srv.broadcastReorg()
      val sentinel = WebSocket.readTextMessage(sock.getInputStream, sock.getOutputStream)
      assert(sentinel === Some(s"""["${EventPipeline.ReorgMagicHash}"]"""))
    } finally { sock.close(); srv.stop() }
  }

  test("broadcast handshake runs off the accept thread: a stalled client cannot block others") {
    // r12 ADVICE: the 5s-bounded handshake used to run ON the accept
    // thread, so one connected-but-never-upgrading client head-of-line
    // blocked every other subscriber's accept for up to 5 s
    val srv = new TxHashBroadcastServer(webSocket = true)
    val stalled = new Socket(InetAddress.getLoopbackAddress, srv.boundPort) // never upgrades
    try {
      Thread.sleep(100) // let the stalled connection reach the server first
      val t0 = System.nanoTime()
      val sock = new Socket(InetAddress.getLoopbackAddress, srv.boundPort)
      sock.setSoTimeout(30000)
      try {
        WebSocket.clientHandshake(sock.getInputStream, sock.getOutputStream,
          s"127.0.0.1:${srv.boundPort}")
        val deadline = System.nanoTime() + 10e9.toLong
        while (srv.connectionCount < 1 && System.nanoTime() < deadline) Thread.sleep(10)
        assert(srv.connectionCount >= 1, "the good client must register")
        val elapsedMs = (System.nanoTime() - t0) / 1e6
        assert(elapsedMs < 4000,
          s"good client must not wait out the stalled client's 5s budget ($elapsedMs ms)")
        srv.broadcastImported(Iterator(7L))
        val msg = WebSocket.readTextMessage(sock.getInputStream, sock.getOutputStream)
        assert(msg.exists(_.contains(f"0x${7L}%064x")))
      } finally sock.close()
    } finally { stalled.close(); srv.stop() }
  }

  /** Websocket feed server: handshake, read the masked subscribe frame,
    * push `script(round, from)`'s lines one text frame each, keep the
    * connection open (round = accepted-connection ordinal).
    */
  private final class WsFeedServer(script: (Int, Long) => Seq[String]) {
    private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    val subscribes = new ConcurrentLinkedQueue[Long]()
    // hold accepted sockets: a GC-finalized socket closes and would read
    // as a surprise connection drop mid-test
    private val held = new ConcurrentLinkedQueue[java.net.Socket]()
    @volatile private var running = true
    private val t = new Thread(() => {
      var round = 0
      while (running) {
        try {
          val sock = server.accept()
          held.add(sock)
          val in = sock.getInputStream
          val out = sock.getOutputStream
          assert(WebSocket.serverHandshake(in, out), "client must upgrade")
          // server read path: §5.1 masking enforced (the source masks)
          val req = WebSocket.readTextMessage(in, out, requireMasked = true).getOrElse("")
          val from = """"subscribe"\s*:\s*(\d+)""".r
            .findFirstMatchIn(req).map(_.group(1).toLong).getOrElse(0L)
          subscribes.add(from)
          script(round, from).foreach(l => out.write(WebSocket.textFrame(l)))
          out.flush()
          round += 1
        } catch { case _: Throwable if !running => case _: java.io.IOException => }
      }
    }, "ws-feed-server")
    t.setDaemon(true)
    t.start()
    def port: Int = server.getLocalPort
    def stop(): Unit = {
      running = false
      server.close()
      held.forEach(s => try s.close() catch { case _: java.io.IOException => })
    }
  }

  private val baseUs = 1700000000000000L
  private def ev(block: Long, id: Long, n: Long): String =
    s"""{"block":$block,"event_id":$id,"ts_us":${baseUs + id},""" +
      s""""user_id":1,"event_type":"transfer","value":1.0,"n_in_block":$n}"""

  test("graft-live over ws ingests a FRAGMENTED message with a ping mid-sequence; client replies are masked (§5.1/§5.4 e2e)") {
    // a compliant peer may fragment any message; the reference's ASP.NET
    // stack does this transparently. The server here splits one event line
    // across text(FIN=0) + cont(FIN=1) with a ping INJECTED between the
    // fragments, then sends a normal single-frame event. The source must
    // ingest both rows, and its pong answer must be MASKED (a client
    // masks everything it sends — the reply path used to skip this).
    val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    val held = new ConcurrentLinkedQueue[Socket]()
    @volatile var pongMasked = false
    @volatile var pongBody = ""
    val t = new Thread(() => {
      try {
        val sock = server.accept(); held.add(sock)
        val in = sock.getInputStream
        val out = sock.getOutputStream
        assert(WebSocket.serverHandshake(in, out), "client must upgrade")
        WebSocket.readTextMessage(in, out, requireMasked = true) // subscribe
        val line = ev(1, 11, 1)
        val (a, b) = line.splitAt(line.length / 2)
        out.write(WebSocket.frame(WebSocket.OpText, a.getBytes, None, fin = false))
        out.write(WebSocket.frame(WebSocket.OpPing, "mid".getBytes, None))
        out.write(WebSocket.frame(WebSocket.OpCont, b.getBytes, None, fin = true))
        out.write(WebSocket.textFrame(ev(2, 21, 1)))
        out.flush()
        // the client's pong must arrive AND pass the §5.1 server gate
        WebSocket.readFrame(in, requireMasked = true).foreach { case (op, body) =>
          pongMasked = op == WebSocket.OpPong
          pongBody = new String(body, StandardCharsets.UTF_8)
        }
      } catch { case _: Throwable => }
    }, "ws-frag-feed")
    t.setDaemon(true)
    t.start()
    val root = tempDir("wsfrag")
    try {
      val events = spark.readStream.format("graft-live")
        .option("host", "127.0.0.1").option("port", server.getLocalPort)
        .option("subscribeFrom", 1L).option("idleTimeoutMs", 600000)
        .option("transport", "websocket")
        .load()
      val q = events.writeStream.format("memory").queryName("ws_frag")
        .option("checkpointLocation", s"$root/ck").start()
      try {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table("ws_frag").count() < 2 && System.nanoTime() < deadline)
          Thread.sleep(100)
        assert(q.exception.isEmpty, s"fragmentation must not fail the stream: ${q.exception}")
        val rows = spark.table("ws_frag").select("block", "event_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(rows === Set((1L, 11L), (2L, 21L)),
          "the reassembled event decodes identically to a single-frame one")
        assert(pongMasked, "the client's mid-sequence pong must be masked (§5.1)")
        assert(pongBody === "mid", "pong echoes the ping payload (§5.5.3)")
      } finally q.stop()
    } finally {
      server.close()
      held.forEach(s => try s.close() catch { case _: java.io.IOException => })
    }
  }

  test("graft-live over transport=websocket: subscribe frame, event rows, reorg contract") {
    val feed = new WsFeedServer((_, from) => Seq(
      ev(from, from * 10, 2), ev(from, from * 10 + 1, 2),
      ev(from + 1, (from + 1) * 10, 1)))
    val root = tempDir("wslive")
    try {
      val events = spark.readStream.format("graft-live")
        .option("host", "127.0.0.1").option("port", feed.port)
        .option("subscribeFrom", 5L).option("idleTimeoutMs", 600000)
        .option("transport", "websocket")
        .load()
      val q = events.writeStream.format("memory").queryName("ws_live")
        .option("checkpointLocation", s"$root/ck").start()
      try {
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table("ws_live").count() < 3 && System.nanoTime() < deadline)
          Thread.sleep(100)
        val rows = spark.table("ws_live")
          .select("block", "event_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(rows === Set((5L, 50L), (5L, 51L), (6L, 60L)))
        assert(feed.subscribes.peek() === 5L)
      } finally q.stop()

      // the reorg line rides the same frames and fails the stream with the
      // restart contract
      val feed2 = new WsFeedServer((_, _) => Seq(ev(1, 11, 1), """{"reorg":1}"""))
      try {
        val ev2 = spark.readStream.format("graft-live")
          .option("host", "127.0.0.1").option("port", feed2.port)
          .option("subscribeFrom", 1L).option("idleTimeoutMs", 600000)
          .option("transport", "websocket")
          .load()
        val q2 = ev2.writeStream.format("noop")
          .option("checkpointLocation", s"$root/ck2").start()
        val e = intercept[StreamingQueryException] { q2.awaitTermination() }
        assert(graft.sources.LiveBlockSource.reorgBlockOf(e) === Some(1L))
      } finally feed2.stop()
    } finally feed.stop()
  }

  test("full Indexer.Run arc over websocket: gated import + reorg restart + ws broadcast") {
    // the round loop end-to-end with RFC 6455 on BOTH wire surfaces: the
    // feed the source subscribes to AND the tx-hash broadcast subscribers
    def corrected(b: Long): Seq[String] = b match {
      case 1L => Seq(ev(1, 11, 2), ev(1, 12, 2))
      case 2L => Seq(ev(2, 2001, 2), ev(2, 2002, 2))
      case 3L => Seq(ev(3, 31, 1))
      case _ => Seq.empty
    }
    val feed = new WsFeedServer((round, from) =>
      if (round == 0)
        Seq(ev(1, 11, 2), ev(1, 12, 2), ev(2, 21, 2), ev(2, 22, 2), """{"reorg":2}""")
      else (from to 3L).flatMap(corrected))
    val bcast = new graft.streaming.TxHashBroadcastServer(webSocket = true)
    val sock = new Socket(InetAddress.getLoopbackAddress, bcast.boundPort)
    sock.setSoTimeout(60000)
    val seen = new ConcurrentLinkedQueue[String]()
    val root = tempDir("wsloop")
    val (tableDir, stagingDir, feedDir, ckRoot) =
      (s"$root/table", s"$root/staging", s"$root/feed", s"$root/ck")
    try {
      WebSocket.clientHandshake(sock.getInputStream, sock.getOutputStream,
        s"127.0.0.1:${bcast.boundPort}")
      val reader = new Thread(() => {
        try {
          var m = WebSocket.readTextMessage(sock.getInputStream, sock.getOutputStream)
          while (m.isDefined) { seen.add(m.get); m = WebSocket.readTextMessage(sock.getInputStream, sock.getOutputStream) }
        } catch { case _: java.io.IOException => }
      }, "ws-loop-subscriber")
      reader.setDaemon(true)
      reader.start()
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      def ids(): Set[Long] =
        if (!fs.exists(new org.apache.hadoop.fs.Path(tableDir))) Set.empty
        else spark.read.parquet(tableDir).select("event_id")
          .collect().map(_.getLong(0)).toSet
      val want = Set(11L, 12L, 2001L, 2002L, 31L)
      val res = graft.streaming.LiveImportLoop.run(
        spark, "127.0.0.1", feed.port, fromBlock = 1L,
        tableDir, stagingDir, feedDir, ckRoot,
        converged = () => ids() == want,
        broadcast = Some(bcast),
        idleTimeoutMs = 600000, maxRounds = 6, transport = "websocket", errorPenaltyBaseMs = 10)
      assert(res.reorgs === Seq(2L))
      assert(ids() === want) // pre-reorg 21/22 truncated, corrected landed
      // the ws subscriber saw the reorg sentinel and the corrected hashes
      val deadline = System.nanoTime() + 30e9.toLong
      def lines = seen.toArray(Array.empty[String])
      while ((!lines.exists(_.contains(EventPipeline.ReorgMagicHash)) ||
        !lines.exists(_.contains(f"0x${2002L}%064x"))) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(lines.exists(_.contains(EventPipeline.ReorgMagicHash)))
      assert(lines.exists(_.contains(f"0x${2002L}%064x")))
    } finally { feed.stop(); bcast.stop(); sock.close() }
  }
}
