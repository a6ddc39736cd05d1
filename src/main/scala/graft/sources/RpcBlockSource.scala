package graft.sources

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.util
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{Callable, Executors, Future => JFuture}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Minimal JSON-RPC 2.0 client over HTTP POST — the wire the reference's
  * downloader actually speaks (Nethereum `Web3` issuing `eth_blockNumber`
  * / `eth_getBlockWithTransactionsByNumber` / `eth_getTransactionReceipt`,
  * Indexer.cs:107 pipeline stages). Dependency-free: JDK HTTP + the
  * Jackson the Spark classpath already carries. Single calls and
  * id-matched BATCH calls (the spec allows responses out of order — match
  * by id, never by position); an `error` member throws loudly with the
  * server's code + message. Stateless per call → safe across the bounded
  * download pool's threads.
  */
final class JsonRpcClient(url: String,
                          connectTimeoutMs: Int = 10000,
                          readTimeoutMs: Int = 30000) {
  private val mapper = new ObjectMapper()
  private val nextId = new AtomicLong(1L)

  private def post(body: String): JsonNode = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMs)
    conn.setReadTimeout(readTimeoutMs)
    conn.setRequestMethod("POST")
    conn.setRequestProperty("Content-Type", "application/json")
    conn.setDoOutput(true)
    val out = conn.getOutputStream
    try { out.write(body.getBytes(StandardCharsets.UTF_8)) } finally out.close()
    val code = conn.getResponseCode
    // getErrorStream is NULL for error responses without a body (and some
    // connection-level failures) — dereferencing it would NPE and mask the
    // real HTTP status
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    if (is == null) {
      conn.disconnect()
      throw new java.io.IOException(s"JSON-RPC HTTP $code with no response body")
    }
    val resp = try new String(is.readAllBytes(), StandardCharsets.UTF_8) finally is.close()
    conn.disconnect()
    if (code != 200) throw new java.io.IOException(s"JSON-RPC HTTP $code: ${resp.take(200)}")
    mapper.readTree(resp)
  }

  private def requestNode(id: Long, method: String, params: Seq[Any]): JsonNode = {
    val req = mapper.createObjectNode()
    req.put("jsonrpc", "2.0").put("id", id).put("method", method)
    val arr = req.putArray("params")
    params.foreach {
      case s: String => arr.add(s)
      case l: Long => arr.add(l)
      case i: Int => arr.add(i)
      case b: Boolean => arr.add(b)
      case n: JsonNode => arr.add(n)
      case other => arr.add(String.valueOf(other))
    }
    req
  }

  private def resultOf(resp: JsonNode): JsonNode = {
    if (resp.has("error") && !resp.get("error").isNull) {
      val e = resp.get("error")
      throw new JsonRpcException(
        if (e.has("code")) e.get("code").asInt() else -32000,
        if (e.has("message")) e.get("message").asText() else e.toString)
    }
    resp.get("result")
  }

  def call(method: String, params: Any*): JsonNode =
    resultOf(post(requestNode(nextId.getAndIncrement(), method, params).toString))

  /** One POST carrying several calls; results returned in REQUEST order by
    * id-matching the (possibly reordered) response array.
    */
  def callBatch(calls: Seq[(String, Seq[Any])]): Seq[JsonNode] = {
    if (calls.isEmpty) return Seq.empty
    val ids = calls.map(_ => nextId.getAndIncrement())
    val arr = mapper.createArrayNode()
    ids.zip(calls).foreach { case (id, (m, ps)) => arr.add(requestNode(id, m, ps)) }
    val resp = post(arr.toString)
    if (!resp.isArray) throw new java.io.IOException(
      s"batch response is not an array: ${resp.toString.take(200)}")
    val byId = new util.HashMap[Long, JsonNode]()
    resp.forEach(n => byId.put(n.get("id").asLong(), n))
    ids.map { id =>
      val n = byId.get(id)
      if (n == null) throw new java.io.IOException(s"batch response missing id $id")
      resultOf(n)
    }
  }
}

/** A JSON-RPC `error` member, surfaced as an [[java.io.IOException]]: node
  * errors (rate limits, "header not found" on a just-mined block, pruned
  * state) are WIRE faults — the same transient family as timeouts and
  * resets — so one retry arm covers both (the reference's round-restart
  * penalty treats them uniformly, Indexer.cs RoundContext.OnError).
  */
final class JsonRpcException(val code: Int, message: String)
  extends java.io.IOException(s"JSON-RPC error $code: $message")

object JsonRpcClient {
  /** eth QUANTITY ("0x1b4" / decimal string) → Long. */
  def quantity(n: JsonNode): Long = {
    val s = n.asText()
    if (s.startsWith("0x") || s.startsWith("0X")) java.lang.Long.parseLong(s.drop(2), 16)
    else s.toLong
  }
  def toQuantity(v: Long): String = "0x" + java.lang.Long.toHexString(v)
  /** eth QUANTITY of arbitrary width → decimal string (wei values overflow
    * longs; the engine's value columns are decimal strings).
    */
  def quantityDecimal(n: JsonNode): String = {
    val s = n.asText()
    if (s.startsWith("0x") || s.startsWith("0X"))
      new java.math.BigInteger(if (s.length == 2) "0" else s.drop(2), 16).toString
    else s
  }
}

/** One downloaded transaction with its receipt, the engine-facing row:
  * `logs` is the receipt's log array re-serialized as JSON (address /
  * topics / data — the ReceiptClassifier-consumable shape).
  */
private[sources] final case class RpcTxRow(
    block: Long, nInBlock: Long, tsUs: Long, hash: String,
    from: String, to: String, value: String, input: String, logs: String)

/** The JSON-RPC POLLING source — the reference's IntervalSource /
  * BulkSource / DetermineSource arc (Sources/IntervalSource.cs:21,
  * BulkSource.cs, Indexer.cs:477) as a DataSourceV2 micro-batch source:
  *
  *   `spark.readStream.format("graft-rpc")
  *        .option("url", "http://host:port/").option("fromBlock", n).load()`
  *
  * Round arc, all from the reference:
  *   - poll the head with `eth_blockNumber`; when behind, download the
  *     missing range IN ORDER — `delta > bulkThreshold` is the
  *     DetermineSource rule that flips the catch-up into BULK mode
  *     (labeled separately in the emitted-blocks metric, exactly the
  *     `indexer_source_emitted_blocks_total{source=bulk|interval}` split);
  *   - at the head, sleep `pollIntervalMs` and re-poll (IntervalSource's
  *     wait-for-new-block leg);
  *   - per block: `eth_getBlockByNumber(n, true)` for the transactions,
  *     then `eth_getTransactionReceipt` per tx — downloads run on a
  *     BOUNDED pool (`maxParallelDownloads`, the reference's
  *     MaxParallelBlockDownloads/MaxParallelReceiptDownloads caps) but
  *     append in block order, like the reference's order-preserving
  *     SelectAsync stages;
  *   - `haltAtHead = true` stops producing once caught up (the bounded
  *     BulkSource / GapSource `finish` arc) — rows drain, the query idles.
  *
  * Requested-by-number transport ⇒ no gap check needed (a block can't be
  * skipped, unlike the push feed). Reorg detection deliberately stays on
  * the live source + `q_reorg_check`'s parent-hash audit — the reference's
  * polling mode merges a ReorgSource the same way, as a SEPARATE source.
  * Like the live source, this transport is driver-side head-following and
  * non-replayable; exactly-once is the downstream gated import's job.
  *
  * Robustness at depth (round 13):
  *   - `maxBufferedRows` (default 100k) BACKPRESSURES the catch-up: the
  *     reader blocks once that many rows await a micro-batch and resumes
  *     on commit-drain, so a million-block bulk catch-up is paced by the
  *     consumer, not by the driver heap — the end-to-end backpressure the
  *     reference gets from its Akka Streams pipeline (Indexer.cs:107).
  *   - `maxRetries`/`retryBaseMs` (default 3 / 1 s) bound transient-fault
  *     retries with exponential backoff around every head poll and block
  *     fetch — the reference's error-restart penalty (Settings.cs:171-172,
  *     5 s doubling to a 4-minute cap) at call grain. A fault that
  *     outlives the budget still fails the stream LOUDLY.
  */
class RpcBlockSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-rpc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RpcBlockSource.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RpcBlockTable(new CaseInsensitiveStringMap(properties))
}

object RpcBlockSource {
  val Schema: StructType = StructType(Seq(
    StructField("block", LongType),
    StructField("n_in_block", LongType),
    StructField("ts", TimestampType),
    StructField("hash", StringType),
    StructField("from", StringType),
    StructField("to", StringType),
    StructField("value", StringType),
    StructField("input", StringType),
    StructField("logs", StringType)))

  /** One block over JSON-RPC: `eth_getBlockByNumber(n, true)` for the
    * transactions + ONE batched POST of `eth_getTransactionReceipt` calls
    * (id-matched). Shared by the polling stream and [[downloadBlocks]].
    */
  private[sources] def fetchBlockRows(client: JsonRpcClient, n: Long): Seq[RpcTxRow] = {
    val block = client.call("eth_getBlockByNumber", JsonRpcClient.toQuantity(n), true)
    if (block == null || block.isNull)
      throw new java.io.IOException(s"eth_getBlockByNumber($n) returned null (pruned node?)")
    val tsUs = JsonRpcClient.quantity(block.get("timestamp")) * 1000000L
    val txs = block.get("transactions")
    val out = new ArrayBuffer[RpcTxRow](txs.size())
    val hashes = (0 until txs.size()).map(i => txs.get(i).get("hash").asText())
    val receipts =
      if (hashes.isEmpty) Seq.empty
      else client.callBatch(hashes.map(h => ("eth_getTransactionReceipt", Seq[Any](h))))
    (0 until txs.size()).foreach { i =>
      val t = txs.get(i)
      // a NULL receipt result (node hasn't indexed a just-mined block's
      // receipts yet, or pruned them) must FAIL, not emit logs="[]" — the
      // reference's receipt-download stage retries a missing receipt;
      // silently dropping log events would corrupt the classified import
      val receipt = receipts(i)
      if (receipt == null || receipt.isNull) throw new java.io.IOException(
        s"eth_getTransactionReceipt(${hashes(i)}) returned null (receipts not yet indexed, or pruned)")
      val logs = receipt.get("logs")
      if (logs == null || logs.isNull) throw new java.io.IOException(
        s"eth_getTransactionReceipt(${hashes(i)}) carries no logs member")
      out += RpcTxRow(
        block = n, nInBlock = txs.size().toLong, tsUs = tsUs,
        hash = hashes(i),
        from = Option(t.get("from")).map(_.asText()).getOrElse(null),
        to = Option(t.get("to")).map(x => if (x.isNull) null else x.asText()).orNull,
        value = JsonRpcClient.quantityDecimal(t.get("value")),
        input = Option(t.get("input")).map(_.asText()).getOrElse("0x"),
        logs = logs.toString)
    }
    out.toSeq
  }

  private val retriesMetric = graft.streaming.Metrics.counter(
    "graft_rpc_retries_total", "Transient JSON-RPC faults retried with backoff.")

  /** Bounded retry with exponential backoff around ONE wire call — the
    * reference's error-restart penalty arc at call grain
    * (Settings.cs:171-172: a 5 s penalty doubling to a 4-minute cap per
    * errored round; Indexer.cs restarts the round). A transient fault
    * (read timeout, 429/5xx, connection reset, a node-reported JSON-RPC
    * error like "header not found" on a just-mined block, a
    * not-yet-indexed receipt) must not kill a million-block bulk
    * catch-up; after `maxRetries` failures the LAST fault propagates and
    * the stream fails loudly, the declared doctrine for persistent
    * faults. Sleeps base·2^k, capped at 4 minutes like the reference.
    */
  private[sources] def withRetry[A](maxRetries: Int, baseDelayMs: Long)(f: => A): A = {
    var attempt = 0
    var delayMs = math.max(1L, baseDelayMs)
    while (true) {
      try return f
      catch {
        case t: java.io.IOException if attempt < maxRetries =>
          attempt += 1
          retriesMetric.only.inc()
          Thread.sleep(delayMs)
          delayMs = math.min(delayMs * 2, 240000L)
      }
    }
    sys.error("unreachable")
  }

  /** GAP REPAIR / targeted backfill — the reference's GapSource arc
    * (Sources/GapSource.cs:14: find missing blocks, re-emit their numbers
    * into the download pipeline) as one bounded batch call: download
    * exactly `numbers` (any order in, ascending out) on a bounded pool and
    * return the tx rows as a DataFrame ready for the gated import — the
    * natural consumer of [[graft.streaming.EventPipeline.checkGaps]]'s
    * re-request callback. Driver-side transport like the polling stream
    * (the gap list is bounded by contract: missing blocks, not data).
    */
  def downloadBlocks(spark: org.apache.spark.sql.SparkSession, url: String,
                     numbers: Seq[Long], maxParallel: Int = 4,
                     maxRetries: Int = 3, retryBaseMs: Long = 1000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    val pool = Executors.newFixedThreadPool(math.max(1, maxParallel), r => {
      val t = new Thread(r, "graft-rpc-gap"); t.setDaemon(true); t
    })
    try {
      val futures = numbers.distinct.sorted.map { n =>
        pool.submit(new Callable[Seq[RpcTxRow]] {
          override def call(): Seq[RpcTxRow] =
            withRetry(maxRetries, retryBaseMs)(fetchBlockRows(new JsonRpcClient(url), n))
        })
      }
      val rows = futures.flatMap(_.get()).map { r =>
        Row(r.block, r.nInBlock, new java.sql.Timestamp(r.tsUs / 1000L),
          r.hash, r.from, r.to, r.value, r.input, r.logs)
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, math.max(1, math.min(4, rows.size))), Schema)
    } finally { pool.shutdownNow(); () }
  }

  /** The GapSource arc AS ONE OPERATOR — detect → download → import
    * (Sources/GapSource.cs:14: find missing blocks, re-emit their numbers
    * into the download pipeline, let the import land them): diff the
    * imported block sequence in `tableDir` for gaps
    * ([[graft.operators.Integrity.gaps]] — the scalable anti-join form),
    * download exactly the missing blocks over JSON-RPC (bounded pool,
    * bounded retries), push them through the caller's `transform` (the
    * classify/key-derivation stage — receives the
    * [[asReceipts]]-shaped frame, must yield rows carrying `keyCol`,
    * `blockCol`, `declaredCol` and a `ts` for day partitioning, matching
    * the table the stream writes), and land them through the SAME
    * complete-block-gated import the stream uses
    * ([[graft.streaming.EventPipeline.importGatedBatch]] — anti-joins
    * make the repair idempotent; a half-downloaded block is held back,
    * never half-imported). Returns the repaired (gap_start, gap_end)
    * ranges, empty when the table is contiguous.
    *
    * `stagingDir` must be a REPAIR-SCOPED dir (not a live stream's
    * staging): the gated import versions/prunes snapshots by batch id.
    * Empty blocks carry no tx rows and therefore stay invisible to a
    * tx-table gap check — record them via [[fetchBlockHeaders]]'s header
    * ledger (the InsertEmptyBlock leg) and gap-check block numbers
    * against THAT, exactly as the reference splits the two concerns.
    */
  def repairGaps(spark: org.apache.spark.sql.SparkSession, url: String,
                 tableDir: String, stagingDir: String,
                 transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                 blockCol: String = "block", keyCol: String = "event_id",
                 declaredCol: String = "n_in_block", maxParallel: Int = 4,
                 maxRetries: Int = 3, retryBaseMs: Long = 1000,
                 maxGapSpan: Long = 100000L): Seq[(Long, Long)] = {
    val imported = spark.read.parquet(tableDir).select(blockCol)
    // bounded by contract: gap RANGES (missing block spans), not data
    val gaps = graft.operators.Integrity.gaps(imported, blockCol)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    if (gaps.isEmpty) return gaps
    // loud guard (r13 ADVICE): a corrupt/misconfigured table (e.g. a
    // restart at a much higher fromBlock) reads as one colossal "gap" —
    // materializing it would OOM the driver and start an unbounded
    // download. A genuine repair never spans millions of blocks; fail
    // fast with the offending range instead.
    gaps.find { case (a, b) => b - a + 1 > maxGapSpan }.foreach { case (a, b) =>
      throw new IllegalStateException(
        s"repairGaps: gap ($a, $b) spans ${b - a + 1} blocks, over the " +
          s"maxGapSpan=$maxGapSpan bound — this looks like a corrupt or " +
          "misconfigured table, not a repairable gap")
    }
    val numbers = gaps.flatMap { case (a, b) => a to b }
    val batch = transform(asReceipts(
      downloadBlocks(spark, url, numbers, maxParallel, maxRetries, retryBaseMs)))
    graft.streaming.EventPipeline.importGatedBatch(
      batch, batchId = 0L, tableDir = tableDir, stagingDir = stagingDir,
      key = keyCol, groupCol = blockCol, declaredCol = declaredCol)
    gaps
  }

  /** BLOCK HEADERS for a set of numbers — `eth_getBlockByNumber(n, false)`
    * in ONE batched POST: (number, hash, ts, n_tx). This is the reference's
    * InsertEmptyBlock leg (Persistence/BlockTracker.cs:50): an EMPTY block
    * must be RECORDED (n_tx = 0) so the requested-vs-actual watermark
    * ([[graft.operators.Integrity.lastValid]], the GetLastValidBlock port)
    * treats it as imported rather than as a permanent gap — tx rows alone
    * can't represent it. Append the result to a block-ledger dir and feed
    * the ledger as `actual` to lastValid / the gap check.
    */
  def fetchBlockHeaders(spark: org.apache.spark.sql.SparkSession, url: String,
                        numbers: Seq[Long], maxRetries: Int = 3,
                        retryBaseMs: Long = 1000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    val client = new JsonRpcClient(url)
    val ns = numbers.distinct.sorted
    val blocks =
      if (ns.isEmpty) Seq.empty
      else withRetry(maxRetries, retryBaseMs)(client.callBatch(ns.map(n =>
        ("eth_getBlockByNumber", Seq[Any](JsonRpcClient.toQuantity(n), false)))))
    val rows = ns.zip(blocks).map { case (n, b) =>
      if (b == null || b.isNull)
        throw new java.io.IOException(s"eth_getBlockByNumber($n) returned null")
      Row(n,
        Option(b.get("hash")).map(_.asText()).orNull,
        new java.sql.Timestamp(JsonRpcClient.quantity(b.get("timestamp")) * 1000L),
        Option(b.get("transactions")).map(_.size().toLong).getOrElse(0L))
    }
    val schema = StructType(Seq(
      StructField("number", LongType), StructField("hash", StringType),
      StructField("ts", TimestampType), StructField("n_tx", LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(4, rows.size))), schema)
  }

  /** Downloaded tx rows → the classifier-consumable receipts frame: the
    * receipt-log JSON parsed to `array<struct<address, topics, data>>` —
    * [[graft.operators.ReceiptClassifier.classify]]'s input shape, so the
    * reference's download → classify → staging pipeline composes directly
    * off this source (a malformed log array parses to null ⇒ the
    * classifier's size()/exists() predicates see no logs — quarantine by
    * Unknown, never a throw).
    */
  def asReceipts(rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, from_json}
    val logSchema = ArrayType(StructType(Seq(
      StructField("address", StringType),
      StructField("topics", ArrayType(StringType)),
      StructField("data", StringType))))
    rows.select(col("block"), col("n_in_block"), col("ts"), col("hash"),
      col("from"), col("to"), col("value"), col("input"),
      from_json(col("logs"), logSchema).as("logs"))
  }
}

private[sources] class RpcBlockTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  override def name(): String = s"graft-rpc://${options.get("url")}"
  override def schema(): StructType = RpcBlockSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = RpcBlockSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new RpcBlockMicroBatchStream(
            url = Option(options.get("url")).getOrElse(
              sys.error("graft-rpc requires option 'url'")),
            fromBlock = options.getLong("fromBlock", 1L),
            pollIntervalMs = options.getInt("pollIntervalMs", 1000),
            bulkThreshold = options.getLong("bulkThreshold", 100L),
            maxParallelDownloads = options.getInt("maxParallelDownloads", 4),
            haltAtHead = options.getBoolean("haltAtHead", false),
            numPartitions = options.getInt("numPartitions", 4),
            healthKey = Option(options.get("healthKey")),
            maxBufferedRows = options.getInt("maxBufferedRows", 100000),
            maxRetries = options.getInt("maxRetries", 3),
            retryBaseMs = options.getLong("retryBaseMs", 1000L))
      }
    }
}

private[sources] class RpcBlockMicroBatchStream(
    url: String, fromBlock: Long, pollIntervalMs: Int, bulkThreshold: Long,
    maxParallelDownloads: Int, haltAtHead: Boolean, numPartitions: Int,
    healthKey: Option[String], maxBufferedRows: Int = 100000,
    maxRetries: Int = 3, retryBaseMs: Long = 1000L)
  extends BufferedMicroBatchStream[RpcTxRow](
    numPartitions, maxBufferedRows,
    graft.streaming.Metrics.gauge(
      "graft_rpc_buffer_high_water_rows",
      "Highest catch-up buffer fill observed by the JSON-RPC source.",
      "endpoint").labels(url),
    r => new GenericInternalRow(Array[Any](
      r.block, r.nInBlock, r.tsUs,
      UTF8String.fromString(r.hash),
      UTF8String.fromString(r.from),
      if (r.to == null) null else UTF8String.fromString(r.to),
      UTF8String.fromString(r.value),
      UTF8String.fromString(r.input),
      UTF8String.fromString(r.logs)))) {

  private val health = healthKey.map(LiveBlockSource.healthFor)
  private val blocksMetric = graft.streaming.Metrics.counter(
    "graft_rpc_blocks_total", "Blocks downloaded by the JSON-RPC source.", "source")
  private val txMetric = graft.streaming.Metrics.counter(
    "graft_rpc_transactions_total", "Transactions downloaded by the JSON-RPC source.")

  private val pool = Executors.newFixedThreadPool(maxParallelDownloads, r => {
    val t = new Thread(r, "graft-rpc-download"); t.setDaemon(true); t
  })

  private val reader = new Thread(() => {
    val client = new JsonRpcClient(url)
    try {
      var next = fromBlock
      var producing = true
      while (producing && !stopped) {
        val head = JsonRpcClient.quantity(
          RpcBlockSource.withRetry(maxRetries, retryBaseMs)(client.call("eth_blockNumber")))
        if (head >= next) {
          val delta = head - next + 1
          val mode = if (delta > bulkThreshold) "bulk" else "interval"
          // submit in order, append in order: bounded parallel downloads
          // with order-preserving emission (the SelectAsync shape)
          (next to head).grouped(math.max(1, maxParallelDownloads * 4)).foreach { chunk =>
            if (!stopped) {
              val futures: Seq[(Long, JFuture[Seq[RpcTxRow]])] = chunk.map { n =>
                n -> pool.submit(new Callable[Seq[RpcTxRow]] {
                  override def call(): Seq[RpcTxRow] =
                    RpcBlockSource.withRetry(maxRetries, retryBaseMs)(
                      RpcBlockSource.fetchBlockRows(new JsonRpcClient(url), n))
                })
              }
              futures.foreach { case (n, f) =>
                val rows = f.get()
                health.foreach(_.reportStartImportBlock(n))
                graft.streaming.BlockTimer.trackBlockEnter(n)
                blocksMetric.labels(mode).inc()
                txMetric.only.add(rows.size.toDouble)
                appendBackpressured(rows)
              }
            }
          }
          next = head + 1
        } else if (haltAtHead) {
          producing = false // caught up: the bounded bulk/gap `finish` arc
        } else {
          Thread.sleep(pollIntervalMs.toLong)
        }
      }
    } catch {
      case t: java.util.concurrent.ExecutionException if !stopped =>
        failure = Option(t.getCause).getOrElse(t)
      case t: Throwable if !stopped => failure = t
      case _: Throwable => // stopping; races are benign
    }
  }, s"graft-rpc-reader")
  reader.setDaemon(true)
  reader.start()

  override def stop(): Unit = {
    super.stop()
    pool.shutdownNow()
    ()
  }
}
