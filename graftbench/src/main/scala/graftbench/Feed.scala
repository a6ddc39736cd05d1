package graftbench

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

/** The seeded live chain the feed pushes: block `b` in generation `g` (each
  * reorg re-spells the blocks it covers into a new generation) carries
  * 1..6 events with ids `g * 1e9 + b * 16 + j`, so an id alone names its
  * block and generation.
  */
final class LiveChain(seed: Long) {
  val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val GenStride = 1000000000L

  def eventCount(b: Long, g: Int): Int = 1 + rng(b, g).nextInt(6)
  def ids(b: Long, g: Int): Seq[Long] = (0 until eventCount(b, g)).map(j => g * GenStride + b * 16 + j)
  def blockOf(id: Long): Long = (id % GenStride) / 16
  def genOf(id: Long): Int = (id / GenStride).toInt

  private def rng(b: Long, g: Int) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (b * 31 + g))

  def lines(b: Long, g: Int): Seq[String] = {
    val r = rng(b, g)
    val n = r.nextInt(6) + 1
    (0 until n).map { j =>
      val id = g * GenStride + b * 16 + j
      s"""{"block":$b,"event_id":$id,"ts_us":${(1700000000L + 5L * b) * 1000000L + j},""" +
        s""""user_id":${r.nextInt(150)},"event_type":"${EventTypes(r.nextInt(EventTypes.size))}",""" +
        s""""value":${r.nextInt(50000) / 100.0},"props":"{\\"k\\": ${r.nextInt(100)}}","n_in_block":$n}"""
    }
  }
}

/** Newline-JSON push feed in the `graft-live` wire format. History blocks
  * `1..history` are available at once; after [[startWindow]], block
  * `history + i` is DUE at `t0 + (i - 1) / rate` and is sent then, whatever
  * the consumer is doing (open loop), up to `history + windowBlocks`. Every
  * subscribe replays from the requested block in the current generation.
  * [[reorg]] re-spells the top blocks and sends the reorg sentinel on the
  * live connection.
  */
final class FeedServer(chain: LiveChain, history: Long, windowBlocks: Long, rate: Double) {
  val head: Long = history + windowBlocks
  private val gens = new ConcurrentHashMap[Long, Int]()
  def gen(b: Long): Int = gens.getOrDefault(b, 0)

  @volatile private var t0Ns = Long.MaxValue
  @volatile private var sentinel: Option[Long] = None
  @volatile private var running = true
  /** Per connection, in order: (block, end row offset, send time ns). */
  val sent = new ConcurrentLinkedQueue[ArrayBuffer[(Long, Long, Long)]]()

  def dueNs(b: Long): Long = t0Ns + ((b - history - 1) * 1e9 / rate).toLong
  def windowEndNs: Long = t0Ns + (windowBlocks * 1e9 / rate).toLong
  def startWindow(atNs: Long): Unit = t0Ns = atNs
  private def released(now: Long): Long =
    if (now < t0Ns) history
    else math.min(head, history + 1 + ((now - t0Ns) * rate / 1e9).toLong)

  /** Re-spells blocks `from..head` into generation `g` and asks the live
    * connection to announce the reorg at `from`.
    */
  def reorg(from: Long, g: Int): Unit = {
    (from to head).foreach(gens.put(_, g))
    sentinel = Some(from)
  }

  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  def port: Int = server.getLocalPort
  private val conns = new ConcurrentLinkedQueue[Socket]()
  private val threads = new ConcurrentLinkedQueue[Thread]()

  @volatile private var current = 0

  private def serve(sock: Socket, idx: Int): Unit = {
    val log = ArrayBuffer.empty[(Long, Long, Long)]
    sent.add(log)
    try {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
      val req = in.readLine()
      var next = """"subscribe"\s*:\s*(\d+)""".r.findFirstMatchIn(req).map(_.group(1).toLong).getOrElse(1L)
      var rows = 0L
      var lastWrite = System.nanoTime()
      // only the newest connection serves: an older one belongs to a
      // round the source already abandoned
      while (running && current == idx) {
        val now = System.nanoTime()
        sentinel match {
          case Some(at) =>
            sentinel = None
            out.write(s"""{"reorg":$at}"""); out.write("\n"); out.flush()
            lastWrite = now
          case None if next <= released(now) =>
            val ls = chain.lines(next, gen(next))
            ls.foreach { l => out.write(l); out.write("\n") }
            out.flush()
            rows += ls.size
            val at = System.nanoTime()
            log.synchronized(log += ((next, rows, at)))
            lastWrite = at
            next += 1
          case None =>
            if (now - lastWrite > 2000000000L) { // keep the idle timer quiet
              out.write(s"""{"head":${next - 1}}"""); out.write("\n"); out.flush()
              lastWrite = now
            }
            val wait = if (next <= head && t0Ns != Long.MaxValue) dueNs(next) - now else 1000000L
            java.util.concurrent.locks.LockSupport.parkNanos(math.max(50000L, math.min(wait, 1000000L)))
        }
      }
    } catch {
      case _: java.io.IOException => // the source hung up (reorg restart or stop)
    } finally sock.close()
  }

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val s = server.accept()
        s.setTcpNoDelay(true)
        conns.add(s)
        current += 1
        val idx = current
        val t = new Thread(() => serve(s, idx), "bench-feed-conn")
        t.setDaemon(true)
        threads.add(t)
        t.start()
      } catch { case _: java.io.IOException => }
    }
  }, "bench-feed-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = {
    running = false
    server.close()
    conns.forEach(s => try s.close() catch { case _: java.io.IOException => })
    acceptor.join(5000)
    threads.forEach(_.join(5000))
  }
}

/** A broadcast subscriber: reads the imported-hash lines, and records when
  * each (block, generation) had all its ids delivered and when each reorg
  * magic hash arrived.
  */
final class HashSubscriber(chain: LiveChain, port: Int) {
  private val sock = new Socket(InetAddress.getLoopbackAddress, port)
  private val counts = new ConcurrentHashMap[(Long, Int), Integer]()
  /** (block, generation) → nanoTime its last id arrived. */
  val completed = new ConcurrentHashMap[(Long, Int), java.lang.Long]()
  val magicNs = new ConcurrentLinkedQueue[java.lang.Long]()
  val received = new java.util.concurrent.atomic.AtomicLong(0L)
  private val magic = graft.streaming.EventPipeline.ReorgMagicHash

  private val reader = new Thread(() => {
    try {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
      var line = in.readLine()
      while (line != null) {
        val now = System.nanoTime()
        line.stripPrefix("[").stripSuffix("]").split(',').iterator.map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).foreach { h =>
            if (h == magic) magicNs.add(now)
            else {
              val id = java.lang.Long.parseUnsignedLong(h.takeRight(16), 16)
              received.incrementAndGet()
              val key = (chain.blockOf(id), chain.genOf(id))
              val c = counts.merge(key, 1, (a: Integer, b: Integer) => a + b)
              if (c == chain.eventCount(key._1, key._2)) completed.putIfAbsent(key, now)
            }
          }
        line = in.readLine()
      }
    } catch { case _: java.io.IOException => }
  }, "bench-hash-subscriber")
  reader.setDaemon(true)
  reader.start()

  def doneNs(b: Long, g: Int): Option[Long] = Option(completed.get((b, g))).map(_.longValue)
  def close(): Unit = { sock.close(); reader.join(5000) }
}
