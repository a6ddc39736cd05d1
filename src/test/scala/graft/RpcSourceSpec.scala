package graft

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.sources.{JsonRpcClient, RpcBlockSource}
import org.apache.spark.sql.streaming.StreamingQueryException

/** The JSON-RPC polling source against a REAL HTTP JSON-RPC 2.0 mock node:
  * eth_blockNumber head polls, ordered catch-up (the IntervalSource arc),
  * the bulk-mode threshold split, per-block eth_getBlockByNumber + batched
  * eth_getTransactionReceipt downloads, and the client's id-matching /
  * error-object semantics.
  */
class RpcSourceSpec extends SparkSpec {

  /** Scripted chain: block n has (n % 3) transactions; tx i of block n has
    * a deterministic hash, value n*1000+i wei and one log. Head is
    * advanceable mid-test. Batch requests arrive as arrays and are
    * answered OUT OF ORDER (reversed) to prove the client id-matches.
    */
  private final class MockNode {
    private val mapper = new ObjectMapper()
    val head = new AtomicLong(0L)
    val methodCalls = new ConcurrentLinkedQueue[String]()
    private val server = HttpServer.create(
      new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)

    def txHash(n: Long, i: Int): String = f"0x$n%016x$i%02x"
    def nTx(n: Long): Int = (n % 3).toInt

    private def result(id: Long, resultJson: String): String =
      s"""{"jsonrpc":"2.0","id":$id,"result":$resultJson}"""

    private def answer(one: com.fasterxml.jackson.databind.JsonNode): String = {
      val id = one.get("id").asLong()
      val method = one.get("method").asText()
      methodCalls.add(method)
      val params = one.get("params")
      method match {
        case "eth_blockNumber" =>
          result(id, s""""0x${java.lang.Long.toHexString(head.get())}"""")
        case "eth_getBlockByNumber" =>
          val n = java.lang.Long.parseLong(params.get(0).asText().drop(2), 16)
          val full = params.size() > 1 && params.get(1).asBoolean()
          // full=false returns tx HASHES only (the header fetch shape)
          val txs =
            if (full) (0 until nTx(n)).map { i =>
              s"""{"hash":"${txHash(n, i)}","from":"0xaaaa","to":"0xbbbb",""" +
                s""""value":"0x${java.lang.Long.toHexString(n * 1000 + i)}","input":"0xdead"}"""
            }.mkString("[", ",", "]")
            else (0 until nTx(n)).map(i => s""""${txHash(n, i)}"""").mkString("[", ",", "]")
          result(id,
            s"""{"number":"0x${java.lang.Long.toHexString(n)}",""" +
              s""""hash":"0xb${java.lang.Long.toHexString(n)}",""" +
              s""""timestamp":"0x${java.lang.Long.toHexString(1700000000L + n)}",""" +
              s""""transactions":$txs}""")
        case "eth_getTransactionReceipt" =>
          val h = params.get(0).asText()
          // one marker log (data = the tx hash) + one WELL-FORMED ERC20
          // transfer log (Transfer topic, exactly 3 topics) so the
          // download → classify composition has something to classify
          val w = (x: Long) => "0x" + "0" * 48 + f"$x%016x"
          result(id,
            s"""{"transactionHash":"$h","logs":[{"address":"0xcccc",""" +
              s""""topics":["0x01"],"data":"$h"},""" +
              s"""{"address":"0xt0ken","topics":[""" +
              s""""${graft.operators.ReceiptClassifier.TransferTopic}",""" +
              s""""${w(1L)}","${w(2L)}"],"data":"${w(5L)}"}]}""")
        case other =>
          s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"method not found: $other"}}"""
      }
    }

    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val node = mapper.readTree(body)
        val resp =
          if (node.isArray) {
            // REVERSED batch response: the spec allows any order; the
            // client must match by id
            val answers = (0 until node.size()).map(i => answer(node.get(i)))
            answers.reverse.mkString("[", ",", "]")
          } else answer(node)
        val bytes = resp.getBytes(StandardCharsets.UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(200, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"
    def stop(): Unit = server.stop(0)
  }

  test("JsonRpcClient: quantities, error objects, reordered batch id-matching") {
    val node = new MockNode
    node.head.set(0x1b4L)
    try {
      val c = new JsonRpcClient(node.url)
      assert(JsonRpcClient.quantity(c.call("eth_blockNumber")) === 436L)
      // error object throws with the server's code + message
      val e = intercept[Exception] { c.call("eth_noSuchMethod") }
      assert(e.getMessage.contains("-32601") && e.getMessage.contains("method not found"))
      // batch answered REVERSED; results must come back in request order
      val rs = c.callBatch(Seq(
        ("eth_getTransactionReceipt", Seq[Any]("0xh1")),
        ("eth_getTransactionReceipt", Seq[Any]("0xh2")),
        ("eth_getTransactionReceipt", Seq[Any]("0xh3"))))
      assert(rs.map(_.get("transactionHash").asText()) === Seq("0xh1", "0xh2", "0xh3"))
      // wide quantities stay exact as decimal strings
      val big = new ObjectMapper().readTree("\"0xde0b6b3a7640000\"") // 10^18
      assert(JsonRpcClient.quantityDecimal(big) === "1000000000000000000")
    } finally node.stop()
  }

  test("graft-rpc: ordered catch-up, head-follow poll, bulk/interval metric split") {
    val node = new MockNode
    node.head.set(6L) // blocks 1..6 to catch up (over bulkThreshold 3 → bulk)
    val root = tempDir("rpcsrc")
    try {
      val rows = spark.readStream.format("graft-rpc")
        .option("url", node.url).option("fromBlock", 1L)
        .option("pollIntervalMs", 100).option("bulkThreshold", 3L)
        .option("maxParallelDownloads", 3)
        .load()
      val q = rows.writeStream.format("memory").queryName("rpc_rows")
        .option("checkpointLocation", s"$root/ck").start()
      try {
        def count() = spark.table("rpc_rows").count()
        val expect1 = (1L to 6L).map(node.nTx(_).toLong).sum
        val deadline = System.nanoTime() + 60e9.toLong
        while (count() < expect1 && System.nanoTime() < deadline) Thread.sleep(100)
        assert(count() === expect1)
        // the head advances → the poller follows (interval mode now: delta 2)
        node.head.set(8L)
        val expect2 = expect1 + (7L to 8L).map(node.nTx(_).toLong).sum
        while (count() < expect2 && System.nanoTime() < deadline) Thread.sleep(100)
        assert(count() === expect2)

        val got = spark.table("rpc_rows").collect().map { r =>
          (r.getAs[Long]("block"), r.getAs[String]("hash"),
            r.getAs[Long]("n_in_block"), r.getAs[String]("value"),
            r.getAs[String]("logs"))
        }
        // every tx of every non-empty block landed exactly once, receipt
        // logs attached, values decimal, declared count right
        val expected = (1L to 8L).flatMap(n => (0 until node.nTx(n)).map(i => (n, i)))
        assert(got.map(x => (x._1, x._2)).toSet ===
          expected.map { case (n, i) => (n, node.txHash(n, i)) }.toSet)
        assert(got.length === expected.size)
        got.foreach { case (n, h, nib, v, logs) =>
          assert(nib === node.nTx(n).toLong)
          assert(logs.contains(s""""data":"$h""""))
          assert(!v.startsWith("0x")) // decimal string
        }
        // the metric split labeled the catch-up bulk and the follow interval
        val metrics = graft.streaming.Metrics.render()
        assert(metrics.contains("""graft_rpc_blocks_total{source="bulk"}"""))
        assert(metrics.contains("""graft_rpc_blocks_total{source="interval"}"""))

        // download → classify composes: the receipt-log JSON parses to the
        // classifier's array<struct> shape and the well-formed transfer
        // log classifies every downloaded tx as Erc20Transfer
        val classified = graft.operators.ReceiptClassifier.classify(
          RpcBlockSource.asReceipts(spark.table("rpc_rows")))
        val cls = classified.select("classification").collect().map(_.getString(0))
        assert(cls.nonEmpty && cls.forall(_.contains("Erc20Transfer")))
      } finally q.stop()
    } finally node.stop()
  }

  test("graft-rpc: haltAtHead drains and idles; an RPC error fails the stream loudly") {
    val node = new MockNode
    node.head.set(3L)
    val root = tempDir("rpcsrc2")
    try {
      val rows = spark.readStream.format("graft-rpc")
        .option("url", node.url).option("fromBlock", 1L)
        .option("pollIntervalMs", 50).option("haltAtHead", true)
        .load()
      val q = rows.writeStream.format("memory").queryName("rpc_halt")
        .option("checkpointLocation", s"$root/ck").start()
      try {
        val expect = (1L to 3L).map(node.nTx(_).toLong).sum
        val deadline = System.nanoTime() + 60e9.toLong
        while (spark.table("rpc_halt").count() < expect && System.nanoTime() < deadline)
          Thread.sleep(50)
        assert(spark.table("rpc_halt").count() === expect)
        // head advances AFTER the halt: a halted source must not follow
        node.head.set(5L)
        Thread.sleep(500)
        assert(spark.table("rpc_halt").count() === expect)
      } finally q.stop()

      // a dead endpoint fails the stream instead of idling forever
      node.stop()
      val bad = spark.readStream.format("graft-rpc")
        .option("url", node.url).option("fromBlock", 1L)
        .load()
      val q2 = bad.writeStream.format("noop")
        .option("checkpointLocation", s"$root/ck2").start()
      intercept[StreamingQueryException] { q2.awaitTermination() }
    } finally node.stop()
  }

  test("GapSource arc: Integrity.gaps -> downloadBlocks backfills exactly the missing blocks") {
    // the reference's GapSource (find missing blocks, re-emit their numbers
    // into the download pipeline) as the gaps-operator -> bounded-batch
    // composition over JSON-RPC
    import org.apache.spark.sql.functions.col
    val node = new MockNode
    node.head.set(8L)
    try {
      val all = RpcBlockSource.downloadBlocks(spark, node.url, 1L to 8L)
      val withGaps = all.where(col("block").isin(1L, 2L, 5L, 8L))
      val gapRanges = graft.operators.Integrity.gaps(withGaps.select("block"), "block")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(gapRanges.toSet === Set((3L, 4L), (6L, 7L)))
      val missing = gapRanges.toSeq.flatMap { case (a, b) => a to b }
      val repaired = RpcBlockSource.downloadBlocks(spark, node.url, missing)
      // empty blocks (3, 6 — zero txs) yield no rows; tx-bearing blocks
      // come back whole with their declared counts
      val blocks = repaired.select("block").distinct().collect().map(_.getLong(0)).toSet
      assert(blocks === Set(4L, 7L))
      val hashes = withGaps.unionByName(repaired)
        .select("hash").collect().map(_.getString(0)).toSet
      val expected = Seq(1L, 2L, 4L, 5L, 7L, 8L)
        .flatMap(n => (0 until node.nTx(n)).map(i => node.txHash(n, i))).toSet
      assert(hashes === expected)
      assert(repaired.select("n_in_block").distinct()
        .collect().map(_.getLong(0)).toSet === Set(1L))
    } finally node.stop()
  }

  test("empty blocks are recorded, not gaps: header ledger + lastValid watermark") {
    // the InsertEmptyBlock leg (BlockTracker.cs:50): blocks 3 and 6 carry
    // zero txs — the tx-row stream can't represent them, so the HEADER
    // ledger must, or the requested-vs-actual watermark flags them missing
    // forever. lastValid over (requested 1..10, headers 1..8) = 8: the
    // empty blocks count as imported; 9..10 are the genuine frontier.
    import org.apache.spark.sql.functions.col
    val node = new MockNode
    node.head.set(8L)
    try {
      val headers = RpcBlockSource.fetchBlockHeaders(spark, node.url, 1L to 8L)
      assert(headers.count() === 8L)
      val byN = headers.collect().map(r =>
        r.getAs[Long]("number") -> (r.getAs[String]("hash"), r.getAs[Long]("n_tx"))).toMap
      assert(byN(3L)._2 === 0L && byN(6L)._2 === 0L, "empty blocks recorded with n_tx = 0")
      assert(byN(5L)._2 === 2L)
      assert(byN(4L)._1 === "0xb4")
      import spark.implicits._
      val requested = (1L to 10L).toDF("block_no")
      val lastValid = graft.operators.Integrity.lastValid(
        requested, "block_no", headers.select(col("number")), "number")
        .collect()(0).getLong(0)
      assert(lastValid === 8L,
        "empty blocks must count as imported; the frontier is the true gap")
    } finally node.stop()
  }

  test("full CatchUp arc: graft-rpc -> classify -> complete-block-gated import") {
    // the reference's download -> classify -> staging -> import pipeline
    // (Indexer.cs:107 CatchUp mode) composed over the polling transport:
    // blocks arrive by number, every tx classifies off its receipt logs,
    // and the gated import lands only complete (block, n_in_block) groups
    import org.apache.spark.sql.functions.{col, xxhash64}
    val node = new MockNode
    node.head.set(8L)
    val root = tempDir("rpcimp")
    val (tableDir, stagingDir) = (s"$root/table", s"$root/staging")
    val rows = spark.readStream.format("graft-rpc")
      .option("url", node.url).option("fromBlock", 1L)
      .option("pollIntervalMs", 100).option("haltAtHead", true)
      .load()
    val classified = graft.operators.ReceiptClassifier.classify(
      graft.sources.RpcBlockSource.asReceipts(rows))
      // the import key: a stable 63-bit id off the tx hash (the engine's
      // graphAnnNodes convention); ts flows through for day partitioning
      .withColumn("event_id", xxhash64(col("hash")).bitwiseAND(Long.MaxValue))
    val q = graft.streaming.EventPipeline.startGatedImport(
      classified, tableDir, stagingDir, s"$root/ck",
      groupCol = "block", declaredCol = "n_in_block")
    try {
      val expected = (1L to 8L).flatMap(n => (0 until node.nTx(n)).map(i => node.txHash(n, i))).toSet
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      def imported(): Set[String] =
        // the poll can catch the dir mid-first-append (exists, no footer)
        try spark.read.parquet(tableDir).select("hash").collect().map(_.getString(0)).toSet
        catch { case _: org.apache.spark.sql.AnalysisException => Set.empty }
      val deadline = System.nanoTime() + 90e9.toLong
      while (imported() != expected && System.nanoTime() < deadline) Thread.sleep(200)
      assert(imported() === expected)
      val table = spark.read.parquet(tableDir)
      // classification rode the streaming plan: the well-formed transfer
      // log marks every downloaded tx
      assert(table.where(col("classification").contains("Erc20Transfer")).count()
        === expected.size.toLong)
      // group completeness: per block, exactly its declared tx count
      val byBlock = table.groupBy("block").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      byBlock.foreach { case (b, c) => assert(c === node.nTx(b).toLong) }
    } finally q.stop()
  }
}
