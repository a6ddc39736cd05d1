package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Literal re-expression of the reference's transaction classifier over a
  * receipt data model: each transaction row carries
  * `logs: array<struct<address:string, topics:array<string>, data:string>>`.
  *
  * Every predicate below mirrors one in
  * `DetailExtractors/TransactionClassifier.cs` (file:line cited per method),
  * expressed as codegen'd higher-order functions over the logs array —
  * map-only at any scale, no explode needed until detail extraction.
  *
  * Chain-scale uint256 values stay hex strings end-to-end (the reference
  * stores them as Postgres text for the same reason); only known-small
  * quantities (trust limits 0..100) decode to longs.
  */
object ReceiptClassifier {

  // Settings.cs:47-66 — event topic constants (public contract ABI hashes)
  val TransferTopic = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
  val CrcSignupTopic = "0x358ba8f768af134eb5af120e9a61dc1ef29b29f597f047b555fc3675064a0342"
  val CrcOrgSignupTopic = "0xb0b94cff8b84fc67513b977d68a5cdd67550bd9b8d99a34b570e3367b7843786"
  val CrcTrustTopic = "0xe60c754dd8ab0b1b5fccba257d6ebcd7d09e360ab7dd7a6e58198ca1f57cdcec"
  val CrcHubTransferTopic = "0x8451019aab65b4193860ef723cb0d56b475a26a72b7bfc55c1dbd6121015285a"
  val ExecutionSuccessTopic = "0x442e715f626346e8c54381002da614f62bee8d27386535b2521ec8540898556e"
  val DefaultHubAddress = "0x29b9a7fbb8995b2423a71cc17cf9810798f6c543"
  val EmptyAddress = "0x0000000000000000000000000000000000000000"
  val ExecTransactionMethodId = "0x6a761202"
  /** 50e18 (the UBI signup mint) as a 32-byte hex word (IsCrcSignup checks
    * value == "50000000000000000000", TransactionClassifier.cs:118). */
  val SignupMintHex = "0x000000000000000000000000000000000000000000000002b5e3af16b1880000"

  /** topic (32-byte word) → address: strip the 24 zero hex chars
    * (Settings.AddressEmptyBytesPrefix replace). */
  def topicAddress(t: Column): Column = concat(lit("0x"), substring(t, 27, 40))

  // --- per-log predicates -------------------------------------------------

  /** TransactionClassifier.cs:243 IsErc20Transfer: Transfer topic + exactly
    * 3 topics. */
  def isErc20TransferLog(log: Column): Column =
    array_contains(log.getField("topics"), TransferTopic) &&
      size(log.getField("topics")) === 3

  /** Hex string (0x already stripped, any length ≤ 64) → long; null when
    * the string is not pure hex or its value needs more than 15 hex digits
    * (< 2^60). Never raises under ANSI mode — unguarded, `conv` throws
    * past 64 bits and the long cast past Long.MaxValue, turning one bad
    * on-chain word into a whole-query crash. Callers translate null into
    * "decode failed" / "value out of range", matching the reference's
    * BigInteger semantics (no overflow, range checks just fail).
    * Native one-pass kernel; [[hexLongRef]] is the readable Column
    * formulation it must match (HexUtilsSpec pins parity) — the rlike
    * guards cost several regex executions per receipt on the hot
    * classify path.
    */
  def hexLong(h: Column): Column = graft.functions.HexUtils.hexLongGuarded(h)

  /** Column-formulation parity oracle for [[hexLong]]. */
  def hexLongRef(h: Column): Column =
    when(
      h.rlike("^[0-9a-fA-F]{1,64}$") &&
        length(regexp_replace(h, "^0+", "")) <= 15,
      conv(h, 16, 10).cast("long")
    ).otherwise(lit(null).cast("long"))

  /** TransactionClassifier.cs:199 IsCrcTrust: Trust topic, hub address,
    * 3 topics, 0 <= limit <= 100. The reference parses the limit as a
    * BigInteger (cs:231) — huge values fail the ≤100 check rather than
    * overflow, which [[hexLong]]'s null models exactly. */
  /** Strip a leading "0x" without a regex (startsWith is a byte compare;
    * regexp_replace costs a regex execution per log on the classify path).
    */
  private def strip0x(h: Column): Column =
    when(h.startsWith("0x"), substring(h, 3, 1000000)).otherwise(h)

  def isCrcTrustLog(log: Column, hub: String = DefaultHubAddress): Column = {
    val limit = hexLong(strip0x(log.getField("data")))
    array_contains(log.getField("topics"), CrcTrustTopic) &&
      log.getField("address") === hub &&
      size(log.getField("topics")) === 3 &&
      limit.isNotNull && limit >= 0 && limit <= 100
  }

  /** TransactionClassifier.cs:126 IsCrcOrganisationSignup. */
  def isCrcOrgSignupLog(log: Column, hub: String = DefaultHubAddress): Column =
    array_contains(log.getField("topics"), CrcOrgSignupTopic) &&
      log.getField("address") === hub &&
      size(log.getField("topics")) === 2

  // --- per-transaction predicates ----------------------------------------

  private def existsLog(logs: Column, pred: Column => Column): Column =
    exists(logs, pred)

  /** Logs whose topics merely CONTAIN the given topic — the reference's
    * `SingleOrDefault` filters select on topic-containment alone and
    * validate address/arity afterwards, so exactly-one-ness must be decided
    * on this looser set (a second topic-bearing log at a WRONG address still
    * makes `SingleOrDefault` throw).
    */
  private def topicLogs(logs: Column, topic: String): Column =
    graft.functions.LogOps.filterLogs(logs, topic)

  // r15: the filter(logs, l => ...) HOF spellings below are CodegenFallback
  // (interpreted per log per row — ~0.24s per filter per evaluation at
  // sf0.1, OPTIMIZATION_r15.md §2, and classify computes five subsets);
  // each swaps to the one-pass codegen'd kernel with the SAME drop/keep
  // semantics (LogOpsSpec pins parity against the HOF spellings).
  private def trustLogs(logs: Column, hub: String): Column =
    graft.functions.LogOps.filterLogs(logs, CrcTrustTopic, Some(hub), 3,
      Some((0L, 100L)))
  private def erc20Logs(logs: Column): Column =
    graft.functions.LogOps.filterLogs(logs, TransferTopic, None, 3)

  /** TransactionClassifier.cs:25 IsCrcSignup — the 3-log co-occurrence:
    * EXACTLY one Signup log (user, token), EXACTLY one trust log which must
    * be the user's SELF-trust, EXACTLY one Transfer log which must be the
    * 50e18 mint from 0x0 to the user on the new token. The exactly-one
    * shape mirrors the reference's `SingleOrDefault` chain
    * (TransactionClassifier.cs:41,67,92) — extra matching logs are not
    * "also fine", they throw (see [[classifyThrows]]).
    */
  def isCrcSignup(logs: Column, hub: String = DefaultHubAddress): Column =
    signupFrom(logs, topicLogs(logs, CrcSignupTopic),
      trustLogs(logs, hub), erc20Logs(logs), hub)

  /** Signup validity pieces over PRE-FILTERED log subsets — [[classify]]
    * computes `su`/`trusts`/`xfers` once per row and feeds both this and
    * [[signupThrowsFrom]], instead of each predicate re-filtering the logs
    * array (the predicate forest used to evaluate roughly twice per row).
    */
  private def signupParts(su: Column, trusts: Column, xfers: Column,
                          hub: String): (Column, Column, Column) = {
    val suLog = get(su, lit(0)) // null-safe: subexpr elimination may eval eagerly
    val suValid = suLog.getField("address") === hub && size(suLog.getField("topics")) === 2
    val user = topicAddress(get(suLog.getField("topics"), lit(1)))
    val token = concat(lit("0x"), substring(suLog.getField("data"), 27, 40))
    val tLog = get(trusts, lit(0))
    val selfTrustOk =
      topicAddress(get(tLog.getField("topics"), lit(1))) === user &&
        topicAddress(get(tLog.getField("topics"), lit(2))) === user
    val xLog = get(xfers, lit(0))
    val mintOk = xLog.getField("address") === token &&
      topicAddress(get(xLog.getField("topics"), lit(1))) === EmptyAddress &&
      topicAddress(get(xLog.getField("topics"), lit(2))) === user &&
      xLog.getField("data") === SignupMintHex
    (suValid, selfTrustOk, mintOk)
  }

  private def signupFrom(logs: Column, su: Column, trusts: Column, xfers: Column,
                         hub: String): Column = {
    val (suValid, selfTrustOk, mintOk) = signupParts(su, trusts, xfers, hub)
    size(logs) >= 3 && size(su) === 1 && suValid &&
      size(trusts) === 1 && selfTrustOk &&
      size(xfers) === 1 && mintOk
  }

  /** Signup-path `SingleOrDefault` throws (TransactionClassifier.cs:41,67,
    * 92), guarded exactly as deep as the reference's control flow. */
  private def signupThrowsFrom(logs: Column, su: Column, trusts: Column,
                               xfers: Column, hub: String): Column = {
    val (suValid, selfTrustOk, _) = signupParts(su, trusts, xfers, hub)
    size(logs) >= 3 && (
      size(su) > 1 ||
        (size(su) === 1 && suValid && (
          size(trusts) > 1 ||
            (size(trusts) === 1 && selfTrustOk && size(xfers) > 1))))
  }

  /** TransactionClassifier.cs:157 IsCrcHubTransfer: EXACTLY one log bearing
    * the HubTransfer topic (`SingleOrDefault` on topic-containment,
    * cs:167), which must sit at the hub with 3 topics, plus at least one
    * ERC20 transfer log (`Any`, cs:197). */
  def isCrcHubTransfer(logs: Column, hub: String = DefaultHubAddress): Column =
    hubTransferFrom(topicLogs(logs, CrcHubTransferTopic),
      erc20Logs(logs), hub)

  private def hubTransferFrom(ht: Column, xfers: Column, hub: String): Column = {
    val htLog = get(ht, lit(0)) // null-safe: subexpr elimination may eval eagerly
    size(ht) === 1 &&
      htLog.getField("address") === hub &&
      size(htLog.getField("topics")) === 3 &&
      size(xfers) > 0
  }

  /** TransactionClassifier.cs:317 IsEoaEthTransfer: value != 0, no logs,
    * bare "0x" input, a recipient. */
  def isEoaEthTransfer(value: Column, input: Column, to: Column, logs: Column): Column =
    value =!= "0" && size(logs) === 0 && input === "0x" && to.isNotNull

  /** Head param i (32-byte word) of an ABI call: 1-based string offset
    * 11 + 64*i (after "0x" + 8 selector chars). */
  private def headWord(input: Column, i: Int): Column =
    substring(input, 11 + 64 * i, 64)

  /** The `data` param's tail length word, decoded defensively: null when
    * the offset word (head param 2) is not clean hex, is implausibly huge,
    * or points outside the input — every case where the reference's
    * DecodeFunctionInput would throw (TransactionClassifier.cs:295).
    * ABI offsets are relative to the params section (char 11, after
    * "0x" + selector): byte b lives at 1-based char 11 + 2b.
    */
  private def safeDataLen(input: Column): Column = {
    val off = hexLong(headWord(input, 2))
    // bound before the int cast (ANSI: casting >Int.Max throws); an offset
    // past 1e9 chars is outside any real input and decodes to null anyway
    val start = when(off.isNotNull && off < 1000000000L, lit(11) + off.cast("int") * 2)
    hexLong(input.substr(start, lit(64)))
  }

  /** TransactionClassifier.cs:277 IsSafeEthTransfer: execTransaction call
    * (ABI head decoded by fixed hex offsets: param2 `data` must be empty
    * bytes via its tail length word, param3 `operation` must be 0) plus
    * EXACTLY one ExecutionSuccess log (`SingleOrDefault`, cs:333).
    */
  def isSafeEthTransfer(input: Column, logs: Column): Column =
    safeFrom(input, safeDataLen(input), hexLong(headWord(input, 3)),
      topicLogs(logs, ExecutionSuccessTopic))

  private def safeFrom(input: Column, dataLen: Column, operation: Column,
                       es: Column): Column =
    input.startsWith(ExecTransactionMethodId) &&
      length(input) >= 10 + 64 * 10 &&
      dataLen === 0 && operation === 0 &&
      size(es) === 1

  /** Safe-path throws (cs:295,333): a selector-prefixed input too short for
    * the 10 head words, a full-length input whose `data`/`operation` words
    * fail to decode (garbage offset, non-hex chars, out-of-range tail —
    * DecodeFunctionInput throws, nulls here), or a decodable empty-data
    * CALL with 2+ ExecutionSuccess logs (`SingleOrDefault`).
    */
  private def safeThrowsFrom(input: Column, dataLen: Column, operation: Column,
                             es: Column): Column =
    input.startsWith(ExecTransactionMethodId) && (
      length(input) < 10 + 64 * 10 ||
        dataLen.isNull || operation.isNull ||
        (dataLen === 0 && operation === 0 && size(es) > 1))

  /** The receipt shapes whose classification THROWS in the reference —
    * `SingleOrDefault` over 2+ matches, or a malformed execTransaction ABI
    * payload — which its Classify catches into `TransactionClass.Unknown`
    * for the WHOLE transaction (TransactionClassifier.cs:438-443), wiping
    * even flags that individually matched. Re-expressed declaratively:
    *
    *  - signup path (cs:41,67,92): reached only while the preceding checks
    *    pass, so each `> 1` is guarded exactly as deep as the reference's
    *    control flow;
    *  - hub-transfer path (cs:167): unconditional topic-containment count;
    *  - safe-transfer path (cs:295,333): a decodable empty-data CALL with
    *    2+ ExecutionSuccess logs, or a selector-prefixed input too short
    *    for the 10 head words (FunctionCallDecoder throws on truncation).
    */
  def classifyThrows(input: Column, logs: Column, hub: String = DefaultHubAddress): Column =
    signupThrowsFrom(logs, topicLogs(logs, CrcSignupTopic),
      trustLogs(logs, hub), erc20Logs(logs), hub) ||
      size(topicLogs(logs, CrcHubTransferTopic)) > 1 ||
      safeThrowsFrom(input, safeDataLen(input), hexLong(headWord(input, 3)),
        topicLogs(logs, ExecutionSuccessTopic))

  // --- classification + extraction ---------------------------------------

  /** TransactionClassifier.cs:338 Classify — the flag set per transaction,
    * one projection, no shuffle. Expects columns (hash, from, to, value,
    * input, logs).
    */
  def classify(txs: DataFrame, hub: String = DefaultHubAddress): DataFrame = {
    // The shared log subsets and ABI decodes land in their own projection
    // layer, computed ONCE per row; the flag forest and the throws
    // predicate both consume the materialized arrays (previously each side
    // re-filtered `logs`, evaluating the predicate forest roughly twice).
    // CollapseProject keeps the layers separate (the arrays are non-cheap
    // and multiply-referenced), and whole-stage codegen fuses them into
    // one pass with no intermediate row materialization.
    val logs = col("logs")
    val shared = txs
      .withColumn("_su", topicLogs(logs, CrcSignupTopic))
      .withColumn("_trusts", trustLogs(logs, hub))
      .withColumn("_xfers", erc20Logs(logs))
      .withColumn("_ht", topicLogs(logs, CrcHubTransferTopic))
      .withColumn("_es", topicLogs(logs, ExecutionSuccessTopic))
      .withColumn("_data_len", safeDataLen(col("input")))
      .withColumn("_op", hexLong(headWord(col("input"), 3)))
    val flags = Seq(
      "Erc20Transfer" -> (size(col("_xfers")) > 0),
      "CrcSignup" -> signupFrom(logs, col("_su"), col("_trusts"), col("_xfers"), hub),
      // r15: size(kernel) > 0 instead of the interpreted exists HOF —
      // inside when(pred, ...) the HOF's none-true-with-null-pred NULL and
      // the kernel's false are both "flag absent", so the classification
      // string is unchanged
      "CrcOrganisationSignup" -> (size(graft.functions.LogOps.filterLogs(
        logs, CrcOrgSignupTopic, Some(hub), 2)) > 0),
      "CrcHubTransfer" -> hubTransferFrom(col("_ht"), col("_xfers"), hub),
      "CrcTrust" -> (size(col("_trusts")) > 0),
      "SafeEthTransfer" -> safeFrom(col("input"), col("_data_len"), col("_op"), col("_es")),
      "EoaEthTransfer" -> isEoaEthTransfer(col("value"), col("input"), col("to"), logs)
    ).map { case (name, pred) => when(pred, lit(name)) }
    val throws =
      signupThrowsFrom(logs, col("_su"), col("_trusts"), col("_xfers"), hub) ||
        size(col("_ht")) > 1 ||
        safeThrowsFrom(col("input"), col("_data_len"), col("_op"), col("_es"))
    shared.withColumn("classification",
      when(throws, lit("Unknown"))
        .otherwise(coalesce(nullif(concat_ws(",", flags: _*), lit("")), lit("Unknown"))))
      .drop("_su", "_trusts", "_xfers", "_ht", "_es", "_data_len", "_op")
  }

  /** EthTransferDetailExtractor.cs:9 — one (from, to, value) detail row per
    * EOA eth transfer; value is the node's decimal string
    * (`transactionData.Value.ToString()`), kept as text like the
    * reference's Postgres column.
    */
  def extractEthTransfers(txs: DataFrame): DataFrame =
    txs.where(isEoaEthTransfer(col("value"), col("input"), col("to"), col("logs")))
      .select(col("hash"), col("from"), col("to"), col("value"))

  /** 64-char uint word → DECIMAL string. Horner decode with decimal(38,0)
    * over the last 31 hex digits, requiring the top 33 to be zero — i.e.
    * value < 16^31 ≈ 2.1e37, generously above any real wei amount (total
    * ETH supply ≈ 1.2e26 wei). Larger or malformed words yield null rather
    * than a wrong number (uint256 caveat: Spark has no 256-bit integer; a
    * full-width decode would need a custom expression). The bound also
    * guarantees every Horner intermediate fits decimal(38,0), so ANSI mode
    * cannot raise.
    */
  def hexDecimalString(word: Column): Column =
    graft.functions.HexUtils.hexWordDecimal(word)

  /** Column-formulation parity oracle for [[hexDecimalString]]: decimal
    * Horner over the 31 decodable digits (every intermediate < 16^31 fits
    * decimal(38,0), so ANSI cannot raise).
    */
  def hexDecimalStringRef(word: Column): Column = {
    val digits = (0 until 31).map(i =>
      conv(substring(word, 34 + i, 1), 16, 10).cast("decimal(38,0)"))
    val horner = digits.reduceLeft((acc, d) => (acc * 16 + d).cast("decimal(38,0)"))
    when(word.rlike("^0{33}[0-9a-fA-F]{31}$"), horner.cast("string"))
      .otherwise(lit(null).cast("string"))
  }

  /** GnosisSafeEthTransferDetailExtractor.cs:13 — (initiator, from, to,
    * value) of a validated safe eth transfer: initiator = tx sender, from =
    * the safe (tx target), to/value = ABI head params 0/1 of the
    * execTransaction call. Like the reference, the decoded `to` is
    * lowercased (Nethereum normalizes, cs:312 — raw input hex may be
    * mixed-case) and `value` is the DECIMAL string
    * (GnosisSafeEthTransfer.Value = value.ToString(), cs:33), via
    * [[hexDecimalString]].
    */
  def extractSafeEthTransfers(txs: DataFrame): DataFrame =
    txs.where(isSafeEthTransfer(col("input"), col("logs")))
      .select(
        col("hash"),
        lower(col("from")).as("initiator"),
        lower(col("to")).as("from"),
        lower(concat(lit("0x"), substring(headWord(col("input"), 0), 25, 40))).as("to"),
        hexDecimalString(headWord(col("input"), 1)).as("value"))

  /** Erc20TransferDetailExtractor.cs:12 — one detail row per Transfer log
    * (1→N): token, from, to, value (hex word kept as text, like the
    * reference's Postgres `value text` columns).
    */
  def extractErc20Transfers(txs: DataFrame): DataFrame =
    txs.select(col("hash"), explode(erc20Logs(col("logs"))).as("log"))
      .select(
        col("hash"),
        col("log.address").as("token"),
        topicAddress(element_at(col("log.topics"), 2)).as("from"),
        topicAddress(element_at(col("log.topics"), 3)).as("to"),
        col("log.data").as("value_hex"))

  /** Deterministic synthetic receipts derived from the events table — lets
    * the receipt-level classifier run through the Verify/Bench surface
    * (rows-only; the per-predicate semantics are pinned by
    * ReceiptClassifierSpec against the reference's test cases).
    */
  def demoFromEvents(events: DataFrame, hub: String = DefaultHubAddress): DataFrame =
    classify(demoReceipts(events, hub), hub)
      .select("event_id", "hash", "classification").orderBy("event_id")

  /** The synthetic receipts frame itself (hash, from, to, value, input,
    * logs, event_id) — input for the extractor/view compositions.
    */
  def demoReceipts(events: DataFrame, hub: String = DefaultHubAddress): DataFrame = {
    // r15: fused one-pass kernel — the concat/lpad/lower/hex chain ran ~8×
    // per row under every circles-family key (HexUtilsSpec pins bit-parity)
    def addr(c: Column): Column = graft.functions.HexUtils.hexPadLower(c, 40)
    def word(c: Column): Column = graft.functions.HexUtils.hexPadLower(c, 64)
    val user = addr(col("user_id"))
    val token = addr(col("user_id") + 1000000L)
    val other = addr(col("user_id") + 2000000L)
    val limit = get_json_object(col("props"), "$.k").cast("long") % 101
    // counterparties of trust/hub/safe events are OTHER REAL USERS
    // (affine maps mod the 150-user id space; none has a fixed point, so
    // no accidental self-edges) — this makes both join directions of the
    // derived views (timeline in/out legs, trust graph) non-trivial.
    val trustee = word((col("user_id") * 7 + 13) % 150)
    val hubPeer = word((col("user_id") * 11 + 7) % 150)
    // every 5th purchase is a MINT: transfer from 0x0 to the token's owner
    // (the hub's UBI issuance shape) — feeds the minting/ledger views
    val isMint = col("event_type") === "purchase" && col("event_id") % 5 === 0
    val transferLog = struct(token.as("address"),
      array(lit(TransferTopic),
        when(isMint, word(lit(0L))).otherwise(word(col("user_id"))),
        when(isMint, word(col("user_id"))).otherwise(word(col("user_id") + 2000000L))).as("topics"),
      word(col("event_id")).as("data"))
    val trustLog = struct(lit(hub).as("address"),
      array(lit(CrcTrustTopic), trustee, word(col("user_id"))).as("topics"),
      word(limit).as("data"))
    val orgLog = struct(lit(hub).as("address"),
      array(lit(CrcOrgSignupTopic), word(col("user_id"))).as("topics"), lit("0x").as("data"))
    val hubLog = struct(lit(hub).as("address"),
      array(lit(CrcHubTransferTopic), word(col("user_id")), hubPeer).as("topics"),
      word(col("event_id")).as("data"))
    // even-numbered "error" events become safe eth transfers: a well-formed
    // execTransaction(to=another real user, value=event_id, data="",
    // operation=0, gas/refund zeros, signatures="") plus its
    // ExecutionSuccess log; odd ones stay plain EOA transfers — both detail
    // extractors get real demo coverage from one event family.
    val isSafeDemo = col("event_type") === "error" && col("event_id") % 2 === 0
    val execSuccessLog = struct(other.as("address"),
      array(lit(ExecutionSuccessTopic)).as("topics"), lit("0x").as("data"))
    def hexWord(c: Column): Column =
      graft.functions.HexUtils.hexPadLower(c, 64, with0x = false)
    val safeInput = concat(
      lit(ExecTransactionMethodId),
      hexWord((col("user_id") * 13 + 29) % 150), // p0 to (a real user safe)
      hexWord(col("event_id")),           // p1 value (wei)
      lit(f"${320L}%064x"),               // p2 data tail offset (10 head words)
      lit("0" * 64 * 6),                  // p3 operation=CALL + p4..p8 gas params
      lit(f"${352L}%064x"),               // p9 signatures tail offset
      lit("0" * 128))                     // tails: data len 0, signatures len 0
    val logs = when(col("event_type") === "purchase", array(transferLog))
      .when(col("event_type") === "signup", array(trustLog))
      .when(col("event_type") === "view", array(orgLog))
      .when(col("event_type") === "click", array(hubLog, transferLog))
      .when(isSafeDemo, array(execSuccessLog))
      .otherwise(array().cast("array<struct<address:string,topics:array<string>,data:string>>"))
    val txs = events.select(
      concat(lit("0x"), md5(col("event_id").cast("string"))).as("hash"),
      user.as("from"), other.as("to"),
      when(col("event_type") === "error" && !isSafeDemo, lit("1000000"))
        .otherwise(lit("0")).as("value"),
      when(isSafeDemo, safeInput)
        .when(col("event_type") === "error", lit("0x"))
        .otherwise(lit("0xdeadbeef")).as("input"),
      logs.as("logs"),
      col("event_id"))
    txs
  }

  /** The demo's crc_all_signups registry — one signup per distinct user,
    * mirroring the chain invariant (a safe signs up exactly once, enforced
    * by the hub contract): users with `user_id % 4 != 3` are PERSON signups
    * owning token `addr(user_id + 1e6)` (the token the demo transfer logs
    * move); the rest are ORGANISATIONS (`token` null, like
    * crc_organisation_signup_2 rows in crc_all_signups — 0.0.64.sql:716).
    * The hash is synthetic but deterministic, so view outputs stay
    * hash-comparable against the DuckDB oracle.
    */
  def demoSignups(events: DataFrame): DataFrame = {
    def addr(c: Column): Column = graft.functions.HexUtils.hexPadLower(c, 40)
    events.select(col("user_id")).distinct().select(
      concat(lit("0x"), md5(concat(lit("signup-"), col("user_id").cast("string")))).as("hash"),
      addr(col("user_id")).as("user"),
      when(col("user_id") % 4 =!= 3, addr(col("user_id") + 1000000L)).as("token"))
  }

  /** The demo's `block` frame: (hash, ts, number) per event — the join
    * target the reference's time-based views (alive/dead accounts, per-day
    * stats) reach through transaction_2 → block.
    */
  def demoBlocks(events: DataFrame): DataFrame =
    events.select(
      concat(lit("0x"), md5(col("event_id").cast("string"))).as("hash"),
      col("ts"),
      col("event_id").as("number"))

  /** The crc_current_trust view: latest limit per (user, can_send_to) edge
    * over extracted trust details — receipts → details → state view, the
    * full reference pipeline composed from this module + StateOps'
    * max_by-shaped latest-per-key (1 shuffle, no sort).
    */
  def currentTrustGraph(trustDetails: DataFrame, orderCol: String = "hash"): DataFrame =
    trustDetails
      .groupBy("user", "can_send_to")
      .agg(max_by(col("limit"), col(orderCol)).as("limit"))
      .where(col("limit") > 0) // limit 0 == revoked edge
      .orderBy("user", "can_send_to")

  /** CrcHubTransferDetailExtractor.cs:10 — (from, to, amount) of the hub
    * transfer log; value stays a hex word (uint256-safe), like the
    * reference's `value text` column.
    */
  def extractHubTransfers(txs: DataFrame, hub: String = DefaultHubAddress): DataFrame =
    txs
      .where(isCrcHubTransfer(col("logs"), hub))
      .select(col("hash"), explode(graft.functions.LogOps.filterLogs(
        col("logs"), CrcHubTransferTopic, Some(hub), 3)).as("log"))
      .select(
        col("hash"),
        topicAddress(element_at(col("log.topics"), 2)).as("from"),
        topicAddress(element_at(col("log.topics"), 3)).as("to"),
        col("log.data").as("value_hex"))

  /** CrcSignupDetailExtractor.cs:11 — (user, token) from the validated
    * 3-log signup receipt. (The reference's `owners text[]` column comes
    * from a live getOwners() contract call, not from logs — out of scope
    * for a log-derived pipeline; left null downstream.)
    */
  def extractSignups(txs: DataFrame, hub: String = DefaultHubAddress): DataFrame =
    txs
      .where(isCrcSignup(col("logs"), hub))
      .select(col("hash"), explode(graft.functions.LogOps.filterLogs(
        col("logs"), CrcSignupTopic, Some(hub))).as("log"))
      .select(
        col("hash"),
        topicAddress(element_at(col("log.topics"), 2)).as("user"),
        concat(lit("0x"), substring(col("log.data"), 27, 40)).as("token"))

  /** CrcOrganisationSignupDetailExtractor.cs — (organisation). */
  def extractOrgSignups(txs: DataFrame, hub: String = DefaultHubAddress): DataFrame =
    txs
      .select(col("hash"), explode(graft.functions.LogOps.filterLogs(
        col("logs"), CrcOrgSignupTopic, Some(hub), 2)).as("log"))
      .select(col("hash"), topicAddress(element_at(col("log.topics"), 2)).as("organisation"))

  /** CrcTrustDetailExtractor.cs:13 — (user, canSendTo, limit). */
  def extractTrusts(txs: DataFrame, hub: String = DefaultHubAddress): DataFrame =
    txs.select(col("hash"), explode(trustLogs(col("logs"), hub)).as("log"))
      .select(
        col("hash"),
        topicAddress(element_at(col("log.topics"), 3)).as("user"),
        topicAddress(element_at(col("log.topics"), 2)).as("can_send_to"),
        hexLong(strip0x(col("log.data"))).as("limit"))
}
