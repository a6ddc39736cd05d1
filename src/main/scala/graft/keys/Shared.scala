package graft
package keys

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}
import graft.operators._

/** What more than one key family builds on: the served-store memo, the
  * demo detail frames and the demo oracle CTE.
  */
private[keys] object Shared {

  /** One-time-store memo for the `_served` / index-backed keys: the
    * maintained store (or inverted text index) builds ONCE per
    * (store, sfDir) JVM-wide and every later invocation SERVES from it —
    * so the bench's median-of-3 reports the steady-state serve cost a
    * subscriber actually pays, with the build as the labeled one-time cost
    * (the q_ann_ivf / q_ann_ivf_trained precedent; r7 verdict item 8:
    * the twins used to pay 3 merge generations + a temp-store build per
    * invocation). Verify still exercises the full build+serve path on its
    * single pass, and oracles are untouched — the served rows are
    * identical whether the store was built this call or a previous one
    * (manifest-committed stores are deterministic per sfDir).
    */
  private val servedStores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def servedStore(store: String, sfDir: String)(build: String => Unit): String = {
    // REENTRANCY-tolerant memo, not computeIfAbsent: builders may nest
    // (q_graph_ann's index builds FROM the node2vec store) and the JDK
    // contract forbids a computeIfAbsent mapping function touching other
    // mappings on the same map — same-bin nesting throws
    // IllegalStateException(Recursive update). Build OUTSIDE the map's
    // lock; putIfAbsent keeps first-wins semantics, and a racing duplicate
    // build is harmless because every store build is deterministic per
    // sfDir (identical artifact whichever build wins the publish).
    val key = s"$store|$sfDir"
    val cur = servedStores.get(key)
    if (cur != null) cur
    else {
      val root = java.nio.file.Files.createTempDirectory(s"graft-served-$store").toFile
      servedRoots.add(root)
      val dir = root.toString + "/view"
      build(dir)
      val prev = servedStores.putIfAbsent(key, dir)
      if (prev != null) prev else dir
    }
  }

  /** Temp roots of the served stores, deleted at JVM exit: a store lives
    * as long as the JVM that memoized it.
    */
  private lazy val servedRoots = {
    val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    sys.addShutdownHook(roots.forEach(r => org.apache.commons.io.FileUtils.deleteQuietly(r)))
    roots
  }

  /** Shared demo detail frames for the view-catalog queries (SURVEY §2
    * #4c-4g): receipts → extractors, with the erc20/hub hex value words
    * decoded to the forms the catalog expects (::text strings on the
    * timeline/minting surface, numerics in the ledger).
    */
  object Demo {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    def valueOf(hexWord: Column): Column =
      ReceiptClassifier.hexLong(substring(hexWord, 3, 64))
    def erc20Str(r: DataFrame): DataFrame =
      ReceiptClassifier.extractErc20Transfers(r)
        .withColumn("value", valueOf(col("value_hex")).cast("string")).drop("value_hex")
    def erc20Num(r: DataFrame): DataFrame =
      ReceiptClassifier.extractErc20Transfers(r)
        .withColumn("value", valueOf(col("value_hex"))).drop("value_hex")
    def hubStr(r: DataFrame): DataFrame =
      ReceiptClassifier.extractHubTransfers(r)
        .withColumn("value", valueOf(col("value_hex")).cast("string")).drop("value_hex")
    /** Documents decorated with deterministic doc_id-derived PII (emails,
      * phones, IPv4) — the testdata ships none, so the scrub demo plants
      * its own, reproduced verbatim in the SQL twin.
      */
    def decoratedDocs(documents: DataFrame): DataFrame =
      documents.select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com asap"))).otherwise(""),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(""),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit("."),
            ((col("doc_id") * 7) % 256).cast("string"), lit("."),
            ((col("doc_id") * 13) % 256).cast("string"))).otherwise("")
      ).as("text"))

    /** Documents decorated with deterministic doc_id-derived URLs (one
      * benign host family, one blocklisted ad-tracker family) — the URL
      * twin of [[decoratedDocs]].
      */
    def urlDocs(documents: DataFrame): DataFrame =
      documents.select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 4 === 0,
          concat(lit(" see https://site"), (col("doc_id") % 20).cast("string"),
            lit(".example.org/p"))).otherwise(""),
        when(col("doc_id") % 9 === 0,
          concat(lit(" ref http://a"), (col("doc_id") % 3).cast("string"),
            lit(".ads.badsite.net/x"))).otherwise("")
      ).as("text"))

    /** Documents decorated into multi-paragraph texts with planted
      * cross-doc boilerplate (variant families) and within-doc repeats —
      * the paragraph-dedup twin of [[decoratedDocs]].
      */
    def paraDocs(documents: DataFrame): DataFrame = {
      val d = lit("\n\n")
      val boiler = concat(lit("shared boilerplate block variant "),
        (col("doc_id") % 7).cast("string"))
      documents.select(col("doc_id"), concat(
        lit("intro for doc "), col("doc_id").cast("string"),
        d, boiler,
        d, when(col("doc_id") % 3 === 0, lit("common promo text"))
          .otherwise(concat(lit("tail words for doc "), col("doc_id").cast("string"))),
        when(col("doc_id") % 5 === 0, concat(d, boiler)).otherwise("")
      ).as("text"))
    }

    /** crc_token_transfer_2 (0.0.64.sql:678): transfers of CRC tokens. */
    def crcTransfers(ev: DataFrame): DataFrame =
      erc20Str(ReceiptClassifier.demoReceipts(ev)).join(
        ReceiptClassifier.demoSignups(ev).where(col("token").isNotNull).select("token"),
        Seq("token"), "left_semi")
  }

  /** Shared oracle CTE prefix: the demo signup registry + erc20 transfer
    * rows exactly as [[graft.operators.ReceiptClassifier.demoReceipts]] /
    * [[graft.operators.ReceiptClassifier.demoSignups]] construct them.
    */
  val demoCte =
    """WITH reg AS (
      | SELECT '0x' || md5('signup-' || CAST(user_id AS VARCHAR)) AS hash,
      |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
      |  CASE WHEN user_id % 4 <> 3
      |       THEN '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') END AS token
      | FROM (SELECT DISTINCT user_id FROM events)),
      |erc AS (
      | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash, ts,
      |  '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') AS token,
      |  CASE WHEN event_type = 'purchase' AND event_id % 5 = 0 THEN '0x' || repeat('0', 40)
      |       ELSE '0x' || lpad(lower(to_hex(user_id)), 40, '0') END AS "from",
      |  CASE WHEN event_type = 'purchase' AND event_id % 5 = 0
      |       THEN '0x' || lpad(lower(to_hex(user_id)), 40, '0')
      |       ELSE '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') END AS "to",
      |  CAST(event_id AS VARCHAR) AS value
      | FROM events WHERE event_type IN ('purchase', 'click'))""".stripMargin
}
