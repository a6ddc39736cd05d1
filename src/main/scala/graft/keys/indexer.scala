package graft
package keys

import org.apache.spark.sql.functions.col
import graft.operators._
import Shared._

/** Indexer core (SURVEY §2 #1-15): classification, ABI decode, event
  * analytics, balances, and the state and integrity operators.
  */
object indexer {

  // quintiles off the row_number spelling of orderedScan's global rank —
  // shared by the batch key and the maintained-store serve twin (the
  // decimal-exact merges make the served rollup bit-identical)
  private val RfmOracleSql =
    """WITH base AS (
        | SELECT o_custkey AS custkey,
        |  max(epoch_us(o_orderdate)) AS recency_us,
        |  CAST(count(*) AS BIGINT) AS frequency,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        | FROM orders GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM base),
        |r AS (SELECT custkey, ((row_number() OVER (ORDER BY recency_us, custkey) - 1) * 5) // n.n + 1 AS r_score FROM base, n),
        |f AS (SELECT custkey, ((row_number() OVER (ORDER BY frequency, custkey) - 1) * 5) // n.n + 1 AS f_score FROM base, n),
        |m AS (SELECT custkey, ((row_number() OVER (ORDER BY monetary, custkey) - 1) * 5) // n.n + 1 AS m_score FROM base, n)
        |SELECT base.custkey, recency_us, frequency, monetary,
        | r_score, f_score, m_score,
        | r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM base JOIN r USING (custkey) JOIN f USING (custkey) JOIN m USING (custkey)
        |ORDER BY custkey""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_classify", (s, d) => Classify.classify(Tables.events(s, d)),
      Some("""SELECT event_id, user_id, event_type,
        | coalesce(nullif(concat_ws(',',
        |   CASE WHEN value > 100 THEN 'HighValue' END,
        |   CASE WHEN event_type = 'signup' THEN 'Signup' END,
        |   CASE WHEN event_type = 'purchase' THEN 'Purchase' END,
        |   CASE WHEN event_type = 'error' THEN 'Error' END,
        |   CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 2 = 0 THEN 'EvenProp' END
        | ), ''), 'Unknown') AS classification
        |FROM events ORDER BY event_id""".stripMargin)),
    QueryDef("q_receipt_classify", (s, d) => ReceiptClassifier.demoFromEvents(Tables.events(s, d)),
      // expected-vs-actual functional oracle: the demo receipt construction
      // makes each event_type's flag set deterministic (per-predicate edge
      // semantics are pinned separately by ReceiptClassifierSpec against the
      // reference's own test receipts)
      Some("""SELECT event_id, '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        | CASE event_type
        |  WHEN 'purchase' THEN 'Erc20Transfer'
        |  WHEN 'signup' THEN 'CrcTrust'
        |  WHEN 'view' THEN 'CrcOrganisationSignup'
        |  WHEN 'click' THEN 'Erc20Transfer,CrcHubTransfer'
        |  ELSE CASE WHEN event_id % 2 = 0 THEN 'SafeEthTransfer'
        |            ELSE 'EoaEthTransfer' END
        | END AS classification
        |FROM events ORDER BY event_id""".stripMargin)),
    // generic topic0-keyed ABI decode over the demo receipts — the REAL
    // hex path (topics/data words → typed values through the guarded
    // kernels); the oracle re-derives every expected decoded value from
    // the events that generated the receipts
    QueryDef("q_abi_decode", (s, d) =>
      AbiDecode.decodeEvents(ReceiptClassifier.demoReceipts(Tables.events(s, d))),
      // generic ABI decode: the oracle re-derives every decoded value from
      // the demo-receipt generation rules (hash/addr/word formulas), one
      // UNION ALL branch per (event family, param) — exercising the REAL
      // topics/data hex path on the Spark side against first principles here
      Some("""WITH b AS (
        | SELECT event_id, user_id, event_type,
        |  '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x29b9a7fbb8995b2423a71cc17cf9810798f6c543' AS hub,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS usr,
        |  '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') AS tok,
        |  '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS oth,
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS trustee,
        |  '0x' || lpad(lower(to_hex((user_id * 11 + 7) % 150)), 40, '0') AS hubpeer,
        |  '0x' || repeat('0', 40) AS zaddr,
        |  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS VARCHAR) AS lim,
        |  CAST(event_id AS VARCHAR) AS eid
        | FROM events),
        |r AS (
        | SELECT hash, 0 AS log_index, tok AS emitter, 'Transfer' AS event, 'from' AS param,
        |        CASE WHEN event_id % 5 = 0 THEN zaddr ELSE usr END AS value
        |   FROM b WHERE event_type = 'purchase'
        | UNION ALL SELECT hash, 0, tok, 'Transfer', 'to',
        |        CASE WHEN event_id % 5 = 0 THEN usr ELSE oth END FROM b WHERE event_type = 'purchase'
        | UNION ALL SELECT hash, 0, tok, 'Transfer', 'value', eid FROM b WHERE event_type = 'purchase'
        | UNION ALL SELECT hash, 0, hub, 'Trust', 'can_send_to', trustee FROM b WHERE event_type = 'signup'
        | UNION ALL SELECT hash, 0, hub, 'Trust', 'user', usr FROM b WHERE event_type = 'signup'
        | UNION ALL SELECT hash, 0, hub, 'Trust', 'limit', lim FROM b WHERE event_type = 'signup'
        | UNION ALL SELECT hash, 0, hub, 'OrganizationSignup', 'organization', usr FROM b WHERE event_type = 'view'
        | UNION ALL SELECT hash, 0, hub, 'HubTransfer', 'from', usr FROM b WHERE event_type = 'click'
        | UNION ALL SELECT hash, 0, hub, 'HubTransfer', 'to', hubpeer FROM b WHERE event_type = 'click'
        | UNION ALL SELECT hash, 0, hub, 'HubTransfer', 'amount', eid FROM b WHERE event_type = 'click'
        | UNION ALL SELECT hash, 1, tok, 'Transfer', 'from', usr FROM b WHERE event_type = 'click'
        | UNION ALL SELECT hash, 1, tok, 'Transfer', 'to', oth FROM b WHERE event_type = 'click'
        | UNION ALL SELECT hash, 1, tok, 'Transfer', 'value', eid FROM b WHERE event_type = 'click')
        |SELECT hash, CAST(log_index AS BIGINT) AS log_index, emitter, event, param, value
        |FROM r ORDER BY hash, log_index, param""".stripMargin)),
    // registry-coverage audit: decoded / arity-mismatch / unregistered
    // counts per topic0 (ExecutionSuccess logs are the deliberately
    // unregistered family in the demo registry)
    QueryDef("q_abi_coverage", (s, d) =>
      AbiDecode.decodeCoverage(ReceiptClassifier.demoReceipts(Tables.events(s, d))),
      // registry coverage: Transfer logs ride purchase AND click receipts;
      // ExecutionSuccess is the unregistered topic0 (n_decoded 0); no demo
      // family is arity-hostile, so n_arity_mismatch is 0 everywhere
      Some("""WITH n AS (
        | SELECT
        |  SUM(CASE WHEN event_type IN ('purchase','click') THEN 1 ELSE 0 END) AS transfers,
        |  SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS trusts,
        |  SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS orgs,
        |  SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS hubs,
        |  SUM(CASE WHEN event_type = 'error' AND event_id % 2 = 0 THEN 1 ELSE 0 END) AS execs
        | FROM events)
        |SELECT * FROM (
        | SELECT '0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef' AS topic0,
        |        CAST(transfers AS BIGINT) AS n_logs, CAST(transfers AS BIGINT) AS n_decoded,
        |        CAST(0 AS BIGINT) AS n_arity_mismatch FROM n
        | UNION ALL SELECT '0xe60c754dd8ab0b1b5fccba257d6ebcd7d09e360ab7dd7a6e58198ca1f57cdcec',
        |        CAST(trusts AS BIGINT), CAST(trusts AS BIGINT), CAST(0 AS BIGINT) FROM n
        | UNION ALL SELECT '0xb0b94cff8b84fc67513b977d68a5cdd67550bd9b8d99a34b570e3367b7843786',
        |        CAST(orgs AS BIGINT), CAST(orgs AS BIGINT), CAST(0 AS BIGINT) FROM n
        | UNION ALL SELECT '0x8451019aab65b4193860ef723cb0d56b475a26a72b7bfc55c1dbd6121015285a',
        |        CAST(hubs AS BIGINT), CAST(hubs AS BIGINT), CAST(0 AS BIGINT) FROM n
        | UNION ALL SELECT '0x442e715f626346e8c54381002da614f62bee8d27386535b2521ec8540898556e',
        |        CAST(execs AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM n)
        |ORDER BY topic0""".stripMargin)),
    // r13 dynamic-array/tuple arms: a user-registered BatchTransfer(
    // operator indexed address, (address,uint256) inline tuple, uint256[])
    // over the demo purchase family — offsets, variable lengths (incl.
    // empty arrays) and the explicit [a,b]/(a,b) renderings all re-derived
    // by the oracle from first principles
    QueryDef("q_abi_array_decode", (s, d) =>
      AbiDecode.decodeEvents(AbiDecode.demoArrayReceipts(Tables.events(s, d)),
        Seq(AbiDecode.DemoBatchTransfer)),
      // r13 array/tuple decode: every expected value re-derived from the
      // demoArrayReceipts generation rules — pair = (addr((user_id*3+1)%150),
      // event_id), ids = [event_id*10 .. +k) with k = event_id % 4
      Some("""WITH b AS (
        | SELECT event_id, user_id,
        |  '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') AS tok,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS op,
        |  '0x' || lpad(lower(to_hex((user_id * 3 + 1) % 150)), 40, '0') AS pto,
        |  CAST(event_id AS VARCHAR) AS amt,
        |  CAST(event_id % 4 AS INTEGER) AS n
        | FROM events WHERE event_type = 'purchase'),
        |r AS (
        | SELECT hash, 0 AS log_index, tok AS emitter, 'BatchTransfer' AS event,
        |        'operator' AS param, op AS value FROM b
        | UNION ALL SELECT hash, 0, tok, 'BatchTransfer', 'pair',
        |        '(' || pto || ',' || amt || ')' FROM b
        | UNION ALL SELECT hash, 0, tok, 'BatchTransfer', 'ids',
        |   CASE n WHEN 0 THEN '[]'
        |     WHEN 1 THEN '[' || CAST(event_id * 10 AS VARCHAR) || ']'
        |     WHEN 2 THEN '[' || CAST(event_id * 10 AS VARCHAR) || ',' ||
        |                 CAST(event_id * 10 + 1 AS VARCHAR) || ']'
        |     ELSE '[' || CAST(event_id * 10 AS VARCHAR) || ',' ||
        |          CAST(event_id * 10 + 1 AS VARCHAR) || ',' ||
        |          CAST(event_id * 10 + 2 AS VARCHAR) || ']'
        |   END FROM b)
        |SELECT hash, CAST(log_index AS BIGINT) AS log_index, emitter, event, param, value
        |FROM r ORDER BY hash, log_index, param""".stripMargin)),
    // r14 dynamic-element arrays: a user-registered Multicall(operator
    // indexed address, uint8 n_calls, bytes[] calls) over the signup
    // family — offset TABLE + per-element bytes tails, empty arrays AND
    // empty elements first-class, re-derived by the oracle from the same
    // md5-derived element bytes
    QueryDef("q_abi_dynarray_decode", (s, d) =>
      AbiDecode.decodeEvents(AbiDecode.demoDynArrayReceipts(Tables.events(s, d)),
        Seq(AbiDecode.DemoMulticall)),
      // r14 bytes[] decode: elements re-derived from the demoDynArrayReceipts
      // generation rules — n = event_id % 3 elements, element j carries the
      // first (event_id + j) % 3 bytes of md5(event_id || '_' || j)
      Some("""WITH b AS (
        | SELECT event_id, user_id,
        |  '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') AS tok,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS op,
        |  CAST(event_id % 3 AS INTEGER) AS n,
        |  substr(md5(CAST(event_id AS VARCHAR) || '_0'), 1,
        |         CAST((event_id % 3) * 2 AS INTEGER)) AS h0,
        |  substr(md5(CAST(event_id AS VARCHAR) || '_1'), 1,
        |         CAST(((event_id + 1) % 3) * 2 AS INTEGER)) AS h1
        | FROM events WHERE event_type = 'signup'),
        |r AS (
        | SELECT hash, 0 AS log_index, tok AS emitter, 'Multicall' AS event,
        |        'operator' AS param, op AS value FROM b
        | UNION ALL SELECT hash, 0, tok, 'Multicall', 'n_calls', CAST(n AS VARCHAR) FROM b
        | UNION ALL SELECT hash, 0, tok, 'Multicall', 'calls',
        |   CASE n WHEN 0 THEN '[]'
        |     WHEN 1 THEN '[0x' || h0 || ']'
        |     ELSE '[0x' || h0 || ',0x' || h1 || ']'
        |   END FROM b)
        |SELECT hash, CAST(log_index AS BIGINT) AS log_index, emitter, event, param, value
        |FROM r ORDER BY hash, log_index, param""".stripMargin)),
    // r14 static-tuple arrays: a user-registered PairBatch(operator
    // indexed address, (address,uint256)[] pairs) over the view family —
    // len·2 inline words after the length word, [(a,b),(c,d)] rendering
    // re-derived by the oracle
    QueryDef("q_abi_tuple_array_decode", (s, d) =>
      AbiDecode.decodeEvents(AbiDecode.demoTupleArrayReceipts(Tables.events(s, d)),
        Seq(AbiDecode.DemoPairBatch)),
      // r14 static-tuple-array decode: pairs re-derived from the
      // demoTupleArrayReceipts rules — n = event_id % 3 pairs, pair j =
      // (addr((user_id*7+j) % 150), event_id*100+j)
      Some("""WITH b AS (
        | SELECT event_id, user_id,
        |  '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') AS tok,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS op,
        |  CAST(event_id % 3 AS INTEGER) AS n,
        |  '(0x' || lpad(lower(to_hex((user_id * 7) % 150)), 40, '0') || ',' ||
        |    CAST(event_id * 100 AS VARCHAR) || ')' AS p0,
        |  '(0x' || lpad(lower(to_hex((user_id * 7 + 1) % 150)), 40, '0') || ',' ||
        |    CAST(event_id * 100 + 1 AS VARCHAR) || ')' AS p1
        | FROM events WHERE event_type = 'view'),
        |r AS (
        | SELECT hash, 0 AS log_index, tok AS emitter, 'PairBatch' AS event,
        |        'operator' AS param, op AS value FROM b
        | UNION ALL SELECT hash, 0, tok, 'PairBatch', 'pairs',
        |   CASE n WHEN 0 THEN '[]'
        |     WHEN 1 THEN '[' || p0 || ']'
        |     ELSE '[' || p0 || ',' || p1 || ']'
        |   END FROM b)
        |SELECT hash, CAST(log_index AS BIGINT) AS log_index, emitter, event, param, value
        |FROM r ORDER BY hash, log_index, param""".stripMargin)),
    // r14 Multicall3: aggregate3((address,bool,bytes)[]) over the click
    // family — the mainstream dynamic-member-tuple-array CALL shape
    // (element offset table + per-element tuple heads + calldata tails);
    // the oracle re-derives every (addr,bool,0xhex) rendering
    QueryDef("q_abi_multicall_decode", (s, d) =>
      AbiDecode.decodeCalls(AbiDecode.demoAggregate3Receipts(Tables.events(s, d)),
        Seq(AbiDecode.Aggregate3)),
      // r14 Multicall3 decode: calls re-derived from the
      // demoAggregate3Receipts rules — n = event_id % 3 calls, call j =
      // (addr((user_id*11+j)%150), (event_id+j)%2 as bool, first
      // (event_id+j)%3 bytes of md5(event_id || '_c' || j))
      Some("""WITH b AS (
        | SELECT event_id, user_id,
        |  '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS caller,
        |  '0x' || lpad(lower(to_hex(user_id + 3000000)), 40, '0') AS callee,
        |  CAST(event_id % 3 AS INTEGER) AS n,
        |  '(0x' || lpad(lower(to_hex((user_id * 11) % 150)), 40, '0') || ',' ||
        |    (CASE WHEN event_id % 2 = 1 THEN 'true' ELSE 'false' END) || ',0x' ||
        |    substr(md5(CAST(event_id AS VARCHAR) || '_c0'), 1,
        |           CAST((event_id % 3) * 2 AS INTEGER)) || ')' AS c0,
        |  '(0x' || lpad(lower(to_hex((user_id * 11 + 1) % 150)), 40, '0') || ',' ||
        |    (CASE WHEN (event_id + 1) % 2 = 1 THEN 'true' ELSE 'false' END) || ',0x' ||
        |    substr(md5(CAST(event_id AS VARCHAR) || '_c1'), 1,
        |           CAST(((event_id + 1) % 3) * 2 AS INTEGER)) || ')' AS c1
        | FROM events WHERE event_type = 'click')
        |SELECT hash, caller, callee, 'aggregate3' AS fn, 'calls' AS param,
        |  CASE n WHEN 0 THEN '[]' WHEN 1 THEN '[' || c0 || ']'
        |    ELSE '[' || c0 || ',' || c1 || ']' END AS value
        |FROM b ORDER BY hash, param""".stripMargin)),
    // r14 one-level nested arrays: a user-registered Matrix(operator
    // indexed address, uint64[][] m) over the error family — outer offset
    // table + inner length-prefixed word runs, [[a,b],[]] renderings
    // re-derived by the oracle (empty inner arrays first-class)
    QueryDef("q_abi_nested_array_decode", (s, d) =>
      AbiDecode.decodeEvents(AbiDecode.demoNestedArrayReceipts(Tables.events(s, d)),
        Seq(AbiDecode.DemoMatrix)),
      // r14 nested-array decode: m re-derived from the
      // demoNestedArrayReceipts rules — n = event_id % 3 inner arrays,
      // inner j has (event_id+j) % 3 values event_id*100 + j*10 + i
      Some("""WITH b AS (
        | SELECT event_id, user_id,
        |  '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') AS tok,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS op,
        |  CAST(event_id % 3 AS INTEGER) AS n,
        |  CASE CAST(event_id % 3 AS INTEGER)
        |    WHEN 0 THEN '[]'
        |    WHEN 1 THEN '[' || CAST(event_id * 100 AS VARCHAR) || ']'
        |    ELSE '[' || CAST(event_id * 100 AS VARCHAR) || ',' ||
        |         CAST(event_id * 100 + 1 AS VARCHAR) || ']'
        |  END AS i0,
        |  CASE CAST((event_id + 1) % 3 AS INTEGER)
        |    WHEN 0 THEN '[]'
        |    WHEN 1 THEN '[' || CAST(event_id * 100 + 10 AS VARCHAR) || ']'
        |    ELSE '[' || CAST(event_id * 100 + 10 AS VARCHAR) || ',' ||
        |         CAST(event_id * 100 + 11 AS VARCHAR) || ']'
        |  END AS i1
        | FROM events WHERE event_type = 'error'),
        |r AS (
        | SELECT hash, 0 AS log_index, tok AS emitter, 'Matrix' AS event,
        |        'operator' AS param, op AS value FROM b
        | UNION ALL SELECT hash, 0, tok, 'Matrix', 'm',
        |   CASE n WHEN 0 THEN '[]'
        |     WHEN 1 THEN '[' || i0 || ']'
        |     ELSE '[' || i0 || ',' || i1 || ']'
        |   END FROM b)
        |SELECT hash, CAST(log_index AS BIGINT) AS log_index, emitter, event, param, value
        |FROM r ORDER BY hash, log_index, param""".stripMargin)),
    // generic selector-keyed ABI CALL decode over the demo receipts'
    // tx.input — the execTransaction family's 10 params (2 dynamic tails)
    // head-decoded through the same guarded kernels; the oracle re-derives
    // every decoded value from the events that generated the inputs
    QueryDef("q_abi_input_decode", (s, d) =>
      AbiDecode.decodeCalls(ReceiptClassifier.demoReceipts(Tables.events(s, d))),
      // execTransaction calldata decode: the demo's safe inputs carry
      // to=(user_id*13+29)%150, value=event_id, empty data/signatures tails,
      // operation 0, zero gas params, zero-address gas_token/refund_receiver
      Some("""WITH b AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS caller,
        |  '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS callee,
        |  '0x' || lpad(lower(to_hex((user_id * 13 + 29) % 150)), 40, '0') AS sto,
        |  CAST(event_id AS VARCHAR) AS eid,
        |  '0x' || repeat('0', 40) AS zaddr
        | FROM events WHERE event_type = 'error' AND event_id % 2 = 0),
        |r AS (
        | SELECT hash, caller, callee, 'execTransaction' AS fn, 'to' AS param, sto AS value FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'value', eid FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'data', '0x' FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'operation', '0' FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'safe_tx_gas', '0' FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'base_gas', '0' FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'gas_price', '0' FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'gas_token', zaddr FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'refund_receiver', zaddr FROM b
        | UNION ALL SELECT hash, caller, callee, 'execTransaction', 'signatures', '0x' FROM b)
        |SELECT hash, caller, callee, fn, param, value FROM r
        |ORDER BY hash, param""".stripMargin)),
    // call-registry coverage: per selector, decoded / truncated-head /
    // unregistered counts (0xdeadbeef is the demo's unregistered selector)
    QueryDef("q_abi_call_coverage", (s, d) =>
      AbiDecode.callCoverage(ReceiptClassifier.demoReceipts(Tables.events(s, d))),
      // selector coverage: safe demos decode under 0x6a761202; every
      // non-error event's input is the unregistered selector-length
      // 0xdeadbeef; odd error events have bare '0x' inputs (excluded)
      Some("""WITH n AS (
        | SELECT
        |  SUM(CASE WHEN event_type = 'error' AND event_id % 2 = 0 THEN 1 ELSE 0 END) AS execs,
        |  SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS unreg
        | FROM events)
        |SELECT * FROM (
        | SELECT '0x6a761202' AS selector, CAST(execs AS BIGINT) AS n_calls,
        |        CAST(execs AS BIGINT) AS n_decoded, CAST(0 AS BIGINT) AS n_short FROM n
        | UNION ALL SELECT '0xdeadbeef', CAST(unreg AS BIGINT), CAST(0 AS BIGINT),
        |        CAST(0 AS BIGINT) FROM n)
        |ORDER BY selector""".stripMargin)),
    QueryDef("q_trust_view", (s, d) => {
      import org.apache.spark.sql.functions._
      val receipts = ReceiptClassifier.demoReceipts(Tables.events(s, d))
      CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(receipts))
    },
      Some("""WITH tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup')
        |SELECT "user", can_send_to, arg_max("limit", hash) AS "limit",
        | count(*) AS history_count, max(hash) AS last_change
        |FROM tr GROUP BY "user", can_send_to
        |ORDER BY "user", can_send_to""".stripMargin)),
    // behavioral analytics over the event stream
    QueryDef("q_funnel", (s, d) =>
      Behavior.funnel(Tables.events(s, d), Seq("signup", "view", "purchase"),
        horizonMs = 2L * 86400000L),
      // chain-of-mins funnel: t_{i+1} = min t of step i+1 with t >= t_i and
      // t <= t1 + horizon (2 days); steps with zero users are absent
      Some("""WITH f AS (SELECT DISTINCT user_id, epoch_ms(ts) AS t, event_type
        |           FROM events
        |           WHERE event_type IN ('signup','view','purchase')),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM f
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT f.user_id, min(t) AS t2 FROM f JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND t >= t1
        |         AND t <= t1 + 172800000 GROUP BY 1),
        |s3 AS (SELECT f.user_id, min(t) AS t3 FROM f
        |       JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |       WHERE event_type = 'purchase' AND t >= t2
        |         AND t <= t1 + 172800000 GROUP BY 1),
        |c AS (SELECT 1 AS step, 'signup' AS step_name,
        |             (SELECT count(*) FROM s1) AS users
        |      UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s2)
        |      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |SELECT CAST(step AS BIGINT) AS step, step_name, users,
        | round(CAST(users AS DOUBLE)
        |       / (SELECT count(*) FROM s1), 12) AS pct_of_first
        |FROM c WHERE users > 0 ORDER BY step""".stripMargin)),
    // per-day DAU / new / returning split (distinct people, not events)
    QueryDef("q_active_users", (s, d) => Behavior.activeUsers(Tables.events(s, d)),
      Some("""WITH t AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
        |           FROM events),
        |f AS (SELECT user_id, min(day) AS first_day FROM t GROUP BY 1)
        |SELECT day, count(*) AS dau,
        | CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |   AS new_users,
        | count(*) - CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |   AS BIGINT) AS "returning"
        |FROM t JOIN f USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin)),
    // first/last-touch conversion attribution per channel (one user-keyed
    // window sort; attributed value on the exact decimal(18,4) protocol)
    QueryDef("q_attribution", (s, d) => Behavior.touchAttribution(Tables.events(s, d)),
      // same IGNORE-NULLS window frame the Spark side uses; 'direct' backfill
      // and the decimal(18,4) value protocol; channel set bounded by
      // |event_type| so the outer join is exact
      Some("""WITH t AS (
        | SELECT user_id, ts, event_id, event_type, value,
        |  CASE WHEN event_type <> 'purchase' THEN event_type END AS touch
        | FROM events),
        |c AS (
        | SELECT event_type, value,
        |  coalesce(first_value(touch IGNORE NULLS) OVER w, 'direct') AS first_touch,
        |  coalesce(last_value(touch IGNORE NULLS) OVER w, 'direct') AS last_touch
        | FROM t
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |conv AS (SELECT * FROM c WHERE event_type = 'purchase'),
        |f AS (SELECT first_touch AS channel, count(*) AS first_touch_conversions,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS first_touch_value
        |      FROM conv GROUP BY 1),
        |l AS (SELECT last_touch AS channel, count(*) AS last_touch_conversions,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS last_touch_value
        |      FROM conv GROUP BY 1)
        |SELECT coalesce(f.channel, l.channel) AS channel,
        | coalesce(first_touch_conversions, 0) AS first_touch_conversions,
        | coalesce(first_touch_value, 0.0) AS first_touch_value,
        | coalesce(last_touch_conversions, 0) AS last_touch_conversions,
        | coalesce(last_touch_value, 0.0) AS last_touch_value
        |FROM f FULL OUTER JOIN l ON f.channel = l.channel
        |ORDER BY channel""".stripMargin)),
    // RFM customer segmentation over orders: quintile scores off the
    // two-phase orderedScan global rank (no single-partition ntile)
    QueryDef("q_rfm", (s, d) => Behavior.rfmSegments(Tables.orders(s, d)),
      Some(RfmOracleSql)),
    // data-driven multi-touch attribution: journey chain + removal
    // effects — rows-only (driver matrix-solve floats; BehaviorSpec pins
    // hand-solved chains)
    QueryDef("q_attribution_markov", (s, d) =>
      Behavior.markovAttribution(Tables.events(s, d)), None),
    // the SAME RFM segmentation served FROM the MAINTAINED per-customer
    // rollup store: three hash-sliced micro-batches folded through the
    // manifest-committed view (greatest/long-add/decimal-add merges —
    // any slicing converges bit-for-bit), then scored without touching
    // raw orders; same oracle as q_rfm
    QueryDef("q_rfm_served", (s, d) => {
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      val ord = Tables.orders(s, d)
      val viewDir = servedStore("rfm", d) { dir =>
        ord.persist()
        (0 until 3).foreach { i =>
          graft.streaming.ViewMaintenance.mergeRfmRollupBatch(s,
            ord.where(pmod(xxhash64(col("o_orderkey")), lit(3)) === i),
            dir, numBuckets = 8, version = i.toLong)
        }
        ord.unpersist()
      }
      val rollup = graft.streaming.ViewMaintenance.readViewOr(s, viewDir,
        graft.streaming.ViewMaintenance.rfmRollupDelta(ord))
      Behavior.rfmFromRollup(rollup.select(col("custkey"), col("recency_us"),
        col("frequency"), col("monetary_d").cast("double").as("monetary")))
    },
      Some(RfmOracleSql), storeBacked = true),
    // day-of-week-adjusted anomaly flags (weekly periodicity removed
    // before standardizing — the seasonal member of the monitoring family)
    QueryDef("q_seasonal_anomalies", (s, d) =>
      Behavior.seasonalAnomalies(Tables.events(s, d)),
      Some("""WITH pd AS (
        | SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |pdd AS (SELECT *, (day + 4) % 7 AS dow FROM pd),
        |st AS (SELECT event_type, dow,
        |        round(CAST(sum(n) AS DOUBLE) / count(*), 12) AS mu,
        |        round(sqrt(greatest(0.0,
        |          (CAST(sum(n*n) AS DOUBLE)
        |           - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE) / count(*))
        |          / count(*))), 12) AS sigma
        |       FROM pdd GROUP BY 1, 2)
        |SELECT event_type, day, dow, n, mu, sigma,
        | CASE WHEN sigma > 0 THEN round((CAST(n AS DOUBLE) - mu) / sigma, 12)
        |      ELSE 0.0 END AS z,
        | abs(CASE WHEN sigma > 0 THEN round((CAST(n AS DOUBLE) - mu) / sigma, 12)
        |      ELSE 0.0 END) > 3.0 AS is_anomaly
        |FROM pdd JOIN st USING (event_type, dow)
        |ORDER BY event_type, day""".stripMargin)),
    // top length-3 event paths (sequence mining; the transition matrix's
    // n-step generalization)
    QueryDef("q_top_paths", (s, d) => Behavior.topPaths(Tables.events(s, d)),
      Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
        |        lead(event_type, 1) OVER win AS s1,
        |        lead(event_type, 2) OVER win AS s2
        |       FROM events
        |       WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || s1 || '>' || s2 AS path,
        | count(*) AS n_paths
        |FROM e WHERE s2 IS NOT NULL
        |GROUP BY 1 ORDER BY n_paths DESC, path LIMIT 20""".stripMargin)),
    // CUSUM level-shift detection per event type (sustained small drifts
    // the single-day anomaly/trending detectors can't see)
    QueryDef("q_changepoints", (s, d) => Behavior.cusumChangepoints(Tables.events(s, d)),
      // CUSUM: the per-type recursion replayed by a linear-depth RECURSIVE
      // CTE; μ/σ/z and every cusum step round to 12 dp in the same order
      Some("""WITH RECURSIVE pd AS (
        | SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |        round(CAST(sum(n) AS DOUBLE) / count(*), 12) AS mu,
        |        round(sqrt(greatest(0.0,
        |          (CAST(sum(n*n) AS DOUBLE)
        |           - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE) / count(*))
        |          / count(*))), 12) AS sigma
        |       FROM pd GROUP BY 1),
        |z AS (SELECT pd.event_type, day, n,
        |       CASE WHEN sigma > 0
        |            THEN round((CAST(n AS DOUBLE) - mu) / sigma, 12)
        |            ELSE 0.0 END AS z,
        |       row_number() OVER (PARTITION BY pd.event_type ORDER BY day) AS rn
        |      FROM pd JOIN st USING (event_type)),
        |c AS (
        | SELECT event_type, day, n, z, rn,
        |  round(greatest(0.0, z - 0.5), 12) AS sp,
        |  round(greatest(0.0, -z - 0.5), 12) AS sn
        | FROM z WHERE rn = 1
        | UNION ALL
        | SELECT z.event_type, z.day, z.n, z.z, z.rn,
        |  round(greatest(0.0, c.sp + z.z - 0.5), 12),
        |  round(greatest(0.0, c.sn - z.z - 0.5), 12)
        | FROM c JOIN z ON z.event_type = c.event_type AND z.rn = c.rn + 1)
        |SELECT event_type, day, n, z, sp, sn,
        | (sp > 4.0 OR sn > 4.0) AS changepoint
        |FROM c ORDER BY 1, 2""".stripMargin)),
    // the SAME detector served from the maintained day-counts store (the
    // additive view that also serves trending): 3 hash-sliced merges, then
    // the whole recursion runs over stored counts, never raw events
    QueryDef("q_changepoints_served", (s, d) => {
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      val ev = Tables.events(s, d)
      // shares the day-counts store with q_trending_served (same additive
      // view — one build serves both consumers, as a real deployment would)
      val viewDir = servedStore("days", d) { dir =>
        ev.persist()
        (0 until 3).foreach { i =>
          graft.streaming.ViewMaintenance.mergeDayCountsBatch(s,
            ev.where(pmod(xxhash64(col("event_id")), lit(3)) === i),
            dir, numBuckets = 8, version = i.toLong)
        }
        ev.unpersist()
      }
      val counts = graft.streaming.ViewMaintenance.readViewOr(s, viewDir,
        graft.streaming.ViewMaintenance.dayCountsDelta(ev))
      Behavior.cusumFromCounts(counts.select(col("event_type"),
        StateOps.epochMs(col("day").cast("timestamp")).as("day"), col("n")))
    },
      // served twin: identical recursion over the store's DATE-keyed counts
      // (day emitted as epoch-ms) — slicing through the additive store must
      // be invisible on the gate
      Some("""WITH RECURSIVE pd AS (
        | SELECT event_type, epoch_ms(date_trunc('day', ts)) AS day, count(*) AS n
        | FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type,
        |        round(CAST(sum(n) AS DOUBLE) / count(*), 12) AS mu,
        |        round(sqrt(greatest(0.0,
        |          (CAST(sum(n*n) AS DOUBLE)
        |           - CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE) / count(*))
        |          / count(*))), 12) AS sigma
        |       FROM pd GROUP BY 1),
        |z AS (SELECT pd.event_type, day, n,
        |       CASE WHEN sigma > 0
        |            THEN round((CAST(n AS DOUBLE) - mu) / sigma, 12)
        |            ELSE 0.0 END AS z,
        |       row_number() OVER (PARTITION BY pd.event_type ORDER BY day) AS rn
        |      FROM pd JOIN st USING (event_type)),
        |c AS (
        | SELECT event_type, day, n, z, rn,
        |  round(greatest(0.0, z - 0.5), 12) AS sp,
        |  round(greatest(0.0, -z - 0.5), 12) AS sn
        | FROM z WHERE rn = 1
        | UNION ALL
        | SELECT z.event_type, z.day, z.n, z.z, z.rn,
        |  round(greatest(0.0, c.sp + z.z - 0.5), 12),
        |  round(greatest(0.0, c.sn - z.z - 0.5), 12)
        | FROM c JOIN z ON z.event_type = c.event_type AND z.rn = c.rn + 1)
        |SELECT event_type, day, n, z, sp, sn,
        | (sp > 4.0 OR sn > 4.0) AS changepoint
        |FROM c ORDER BY 1, 2""".stripMargin), storeBacked = true),
    QueryDef("q_retention", (s, d) => Behavior.retentionCohorts(Tables.events(s, d)),
      Some("""WITH t AS (SELECT user_id, epoch_ms(ts) AS t FROM events),
        |fb AS (SELECT user_id, min(t) // 604800000 AS cohort
        |       FROM t GROUP BY 1)
        |SELECT fb.cohort, t.t // 604800000 - fb.cohort AS week_offset,
        | count(DISTINCT t.user_id) AS users
        |FROM t JOIN fb USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // truncated-EWMA volume forecast: exact bigint numerator, one
    // exponent-shift division — bit-exact cross-engine
    QueryDef("q_ewma_forecast", (s, d) => Behavior.ewmaForecast(Tables.events(s, d)),
      // exact bigint numerator Σ n_{t-j}·2^(7-j); /256.0 is an exponent
      // shift — bit-exact on both engines
      Some({
      val num = (0 until 8).map { j =>
        s"coalesce(lag(n, $j) OVER w, 0) * ${1L << (7 - j)}"
      }.mkString(" + ")
      s"""WITH c AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
         |  count(*) AS n FROM events GROUP BY 1, 2)
         |SELECT event_type, day, n,
         | CAST($num AS DOUBLE) / 256.0 AS ewma
         |FROM c
         |WINDOW w AS (PARTITION BY event_type ORDER BY day)
         |ORDER BY event_type, day""".stripMargin
    })),
    // cohort payback curve: decimal revenue cells + decimal running sum,
    // ltv = one IEEE division per cell
    QueryDef("q_cohort_ltv", (s, d) => Behavior.cohortLtv(Tables.events(s, d)),
      Some("""WITH t AS (SELECT user_id, epoch_ms(ts) AS t, event_type, value
        |           FROM events),
        |fb AS (SELECT user_id, min(t) // 604800000 AS cohort
        |       FROM t GROUP BY 1),
        |sz AS (SELECT cohort, count(*) AS cohort_users FROM fb GROUP BY 1),
        |cells AS (
        | SELECT fb.cohort, t.t // 604800000 - fb.cohort AS week_offset,
        |  sum(CAST(t.value AS DECIMAL(28,10))) AS rev
        | FROM t JOIN fb USING (user_id)
        | WHERE t.event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.cohort, c.week_offset, CAST(c.rev AS DOUBLE) AS revenue,
        | CAST(sum(c.rev) OVER (PARTITION BY c.cohort ORDER BY c.week_offset
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   AS cum_revenue,
        | sz.cohort_users,
        | CAST(sum(c.rev) OVER (PARTITION BY c.cohort ORDER BY c.week_offset
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |   / CAST(sz.cohort_users AS DOUBLE) AS ltv
        |FROM cells c JOIN sz USING (cohort)
        |ORDER BY cohort, week_offset""".stripMargin)),
    // md5-parity A/B readout with the pooled two-proportion z — a single
    // summary row, every float derived from exact longs through a
    // mirrored expression tree
    QueryDef("q_ab_test", (s, d) => Behavior.abTest(Tables.events(s, d)),
      // the z expression mirrors the Spark tree operation-for-operation:
      // identical IEEE order over exact-long-derived doubles
      Some("""WITH t AS (SELECT user_id, epoch_ms(ts) AS t, event_type FROM events),
        |u AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN t END) AS t_exp,
        |  max(CASE WHEN event_type = 'purchase' THEN t END) AS t_conv
        | FROM t GROUP BY 1),
        |pu AS (
        | SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
        |   % 2 AS variant,
        |  CASE WHEN t_conv > t_exp THEN 1 ELSE 0 END AS cnv
        | FROM u WHERE t_exp IS NOT NULL),
        |v AS (SELECT variant, count(*) AS n, CAST(sum(cnv) AS BIGINT) AS c
        |      FROM pu GROUP BY 1),
        |a AS (SELECT n AS n0, c AS c0 FROM v WHERE variant = 0),
        |b AS (SELECT n AS n1, c AS c1 FROM v WHERE variant = 1)
        |SELECT n0, c0, n1, c1,
        | CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS rate0,
        | CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS rate1,
        | CASE WHEN c0 + c1 > 0 AND c0 + c1 < n0 + n1 THEN
        |  (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
        |     - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
        |   / sqrt(((CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))
        |           / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
        |      * (1.0 - (CAST(c0 AS DOUBLE) + CAST(c1 AS DOUBLE))
        |           / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
        |      * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
        | END AS z
        |FROM a CROSS JOIN b""".stripMargin)),
    QueryDef("q_token_balances", (s, d) => {
      import org.apache.spark.sql.functions._
      val receipts = ReceiptClassifier.demoReceipts(Tables.events(s, d))
      val transfers = ReceiptClassifier.extractErc20Transfers(receipts)
        .withColumn("value", conv(regexp_replace(col("value_hex"), "^0x", ""), 16, 10).cast("long"))
      CirclesViews.balancesBySafeAndToken(transfers)
    },
      Some(demoCte +
      """,
        |d AS (
        | SELECT token, "to" AS safe_address, CAST(value AS DECIMAL(18,4)) AS delta, hash FROM erc
        | UNION ALL
        | SELECT token, "from", -CAST(value AS DECIMAL(18,4)), hash FROM erc)
        |SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance,
        | max(hash) AS last_change_at
        |FROM d GROUP BY safe_address, token
        |ORDER BY safe_address, token""".stripMargin)),
    // the audit/time-travel variant of q_token_balances: ledger state as
    // of block 7500 (block cut pushed into the block scan pre-join)
    QueryDef("q_balances_at_block", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val transfers = ReceiptClassifier.extractErc20Transfers(
        ReceiptClassifier.demoReceipts(ev))
        .withColumn("value", conv(regexp_replace(col("value_hex"), "^0x", ""), 16, 10).cast("long"))
      CirclesViews.balancesAtBlock(transfers, ReceiptClassifier.demoBlocks(ev), 7500L)
    },
      Some(demoCte +
      """,
        |blk AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash, event_id AS num
        | FROM events),
        |cut AS (
        | SELECT erc.* FROM erc JOIN blk USING (hash) WHERE blk.num <= 7500),
        |d AS (
        | SELECT token, "to" AS safe_address, CAST(value AS DECIMAL(18,4)) AS delta, hash FROM cut
        | UNION ALL
        | SELECT token, "from", -CAST(value AS DECIMAL(18,4)), hash FROM cut)
        |SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance,
        | max(hash) AS last_change_at
        |FROM d GROUP BY safe_address, token
        |ORDER BY safe_address, token""".stripMargin)),
    QueryDef("q_eth_transfers", (s, d) =>
      ReceiptClassifier.extractEthTransfers(ReceiptClassifier.demoReceipts(Tables.events(s, d)))
        .orderBy("hash"),
      Some("""SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        | '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "from",
        | '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS "to",
        | '1000000' AS value
        |FROM events WHERE event_type = 'error' AND event_id % 2 = 1
        |ORDER BY hash""".stripMargin)),
    QueryDef("q_safe_eth_transfers", (s, d) =>
      ReceiptClassifier.extractSafeEthTransfers(ReceiptClassifier.demoReceipts(Tables.events(s, d)))
        .orderBy("hash"),
      Some("""SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        | '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS initiator,
        | '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS "from",
        | '0x' || lpad(lower(to_hex((user_id * 13 + 29) % 150)), 40, '0') AS "to",
        | CAST(event_id AS VARCHAR) AS "value"
        |FROM events WHERE event_type = 'error' AND event_id % 2 = 0
        |ORDER BY hash""".stripMargin)),
    QueryDef("q_signup_pattern", (s, d) => Classify.coOccurrence(Tables.events(s, d)),
      Some("""SELECT user_id,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click
        |FROM events GROUP BY user_id
        |HAVING n_signup > 0 AND n_purchase > 0 AND n_click > 0
        |ORDER BY user_id""".stripMargin)),
    QueryDef("q_extract_details", (s, d) => Classify.extractDetails(Tables.events(s, d)),
      Some("""SELECT * FROM (
        | SELECT event_id, 'purchase' AS detail_type, user_id AS subject, CAST(value AS DOUBLE) AS amount
        |  FROM events WHERE event_type = 'purchase'
        | UNION ALL
        | SELECT event_id, 'signup', user_id, CAST(NULL AS DOUBLE) FROM events WHERE event_type = 'signup'
        | UNION ALL
        | SELECT event_id, 'error', user_id, CAST(NULL AS DOUBLE) FROM events WHERE event_type = 'error'
        |) ORDER BY event_id, detail_type""".stripMargin)),
    QueryDef("q_latest_event", (s, d) => StateOps.latestPerKey(Tables.events(s, d)),
      Some("""SELECT user_id, event_type, event_id AS last_event_id, value AS last_value,
        | epoch_ms(ts) AS last_ts_ms
        |FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                              ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),
    QueryDef("q_balances", (s, d) => StateOps.balances(Tables.events(s, d)),
      Some("""SELECT user_id,
        | CAST(coalesce(SUM(CAST(CASE WHEN event_type='purchase' THEN value END AS DECIMAL(18,4))), 0) AS DOUBLE) AS credits,
        | CAST(coalesce(SUM(CAST(CASE WHEN event_type='click' THEN value END AS DECIMAL(18,4))), 0) AS DOUBLE) AS debits,
        | CAST(coalesce(SUM(CAST(CASE WHEN event_type='purchase' THEN value END AS DECIMAL(18,4))), 0)
        |    - coalesce(SUM(CAST(CASE WHEN event_type='click' THEN value END AS DECIMAL(18,4))), 0) AS DOUBLE) AS balance,
        | count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    QueryDef("q_running_balance", (s, d) => StateOps.runningBalance(Tables.events(s, d)),
      Some("""SELECT event_id, user_id,
        | CAST(SUM(CAST(CASE WHEN event_type='purchase' THEN value
        |                    WHEN event_type='click' THEN -value
        |                    ELSE 0 END AS DECIMAL(18,4)))
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS balance_after
        |FROM events WHERE event_type IN ('purchase','click')
        |ORDER BY event_id""".stripMargin)),
    QueryDef("q_windowed_counts", (s, d) => StateOps.windowedCounts(Tables.events(s, d)),
      Some("""SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
        | count(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""".stripMargin)),
    QueryDef("q_sessions", (s, d) => StateOps.sessionize(Tables.events(s, d)),
      Some("""WITH e AS (
        | SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts_us
        | FROM events
        |), flagged AS (
        | SELECT *, CASE WHEN prev_ts_us IS NULL OR ts_us - prev_ts_us > 1800000000 THEN 1 ELSE 0 END AS is_new
        | FROM e
        |), sess AS (
        | SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS session_idx
        | FROM flagged
        |)
        |SELECT user_id, min(event_id) AS session_start_id, count(*) AS n_events,
        | CAST(floor((max(ts_us) - min(ts_us)) / 1000) AS BIGINT) AS duration_ms
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_start_id""".stripMargin)),
    // time-weighted average balance over the trailing week at the frontier
    QueryDef("q_twab", (s, d) => StateOps.timeWeightedBalance(Tables.events(s, d)),
      // TWAB: decimal balances × ms durations summed as decimal end-to-end;
      // only the final ratio is a double (rounded 6 — balance-sized magnitude
      // leaves ~10 significant digits, inside cross-engine double agreement)
      Some("""WITH e AS (SELECT user_id,
        |        CAST(floor(epoch_us(ts) / 1000.0) AS BIGINT) AS tms, event_id,
        |        CAST(CASE WHEN event_type = 'purchase' THEN value
        |                  WHEN event_type = 'click' THEN -value
        |             END AS DECIMAL(18,4)) AS d
        |      FROM events WHERE event_type IN ('purchase', 'click')),
        |b AS (SELECT max(tms) AS t1, max(tms) - 7 * 86400000 AS t0 FROM e),
        |op AS (SELECT user_id, t0 AS tms, CAST(-1 AS BIGINT) AS event_id,
        |        CAST(sum(d) AS DECIMAL(18,4)) AS d, t0, t1
        |       FROM e, b WHERE tms < t0 GROUP BY user_id, t0, t1),
        |iw AS (SELECT user_id, tms, event_id, d, t0, t1
        |       FROM e, b WHERE tms >= t0 AND tms <= t1),
        |u AS (SELECT * FROM op UNION ALL SELECT * FROM iw),
        |s AS (SELECT user_id, t0, t1,
        |       CAST(sum(d) OVER (PARTITION BY user_id ORDER BY tms, event_id)
        |            AS DECIMAL(20,4)) AS bal,
        |       CAST(COALESCE(lead(tms) OVER (PARTITION BY user_id
        |              ORDER BY tms, event_id), t1) - tms
        |            AS DECIMAL(12,0)) AS seg_ms
        |      FROM u),
        |a AS (SELECT user_id, t0, t1,
        |       CAST(sum(CAST(bal * seg_ms AS DECIMAL(38,4))) AS DECIMAL(38,4))
        |         AS wsum
        |      FROM s GROUP BY 1, 2, 3)
        |SELECT user_id, CAST(wsum AS DOUBLE) AS balance_ms,
        | round(CAST(wsum AS DOUBLE) / CAST(t1 - t0 AS DOUBLE), 6) AS twab
        |FROM a ORDER BY user_id""".stripMargin)),
    // nearest purchase around each click (both-directions attribution)
    QueryDef("q_nearest_event", (s, d) =>
      StateOps.nearestEvent(Tables.events(s, d), "click", "purchase"),
      // nearest-event: same IGNORE-NULLS window frames, same tie preference
      Some("""WITH f AS (SELECT user_id,
        |        CAST(floor(epoch_us(ts) / 1000.0) AS BIGINT) AS tms,
        |        event_id, event_type
        |       FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (SELECT *,
        |       last_value(CASE WHEN event_type = 'purchase' THEN tms END
        |         IGNORE NULLS) OVER pre AS prev_ts,
        |       last_value(CASE WHEN event_type = 'purchase' THEN event_id END
        |         IGNORE NULLS) OVER pre AS prev_id,
        |       first_value(CASE WHEN event_type = 'purchase' THEN tms END
        |         IGNORE NULLS) OVER post AS next_ts,
        |       first_value(CASE WHEN event_type = 'purchase' THEN event_id END
        |         IGNORE NULLS) OVER post AS next_id
        |      FROM f
        |      WINDOW pre AS (PARTITION BY user_id ORDER BY tms, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |             post AS (PARTITION BY user_id ORDER BY tms, event_id
        |                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id AS anchor_event_id, tms AS anchor_ms,
        | CASE WHEN next_ts IS NULL
        |        OR (prev_ts IS NOT NULL AND tms - prev_ts <= next_ts - tms)
        |      THEN prev_id ELSE next_id END AS target_event_id,
        | CASE WHEN next_ts IS NULL
        |        OR (prev_ts IS NOT NULL AND tms - prev_ts <= next_ts - tms)
        |      THEN prev_ts - tms ELSE next_ts - tms END AS delta_ms
        |FROM w WHERE event_type = 'click'
        |ORDER BY anchor_event_id""".stripMargin)),
    QueryDef("q_resample_locf", (s, d) => StateOps.resampleLocf(Tables.events(s, d)),
      Some("""WITH e AS (
        | SELECT user_id, epoch_ms(ts) AS tms, arg_max(value, event_id) AS value
        | FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, ((min(tms) + 86399999) // 86400000) * 86400000 AS glo,
        |             max(tms) AS hi
        |      FROM e GROUP BY 1),
        |g AS (SELECT user_id, u.gts
        |      FROM b, unnest(generate_series(glo, hi, 86400000)) AS u(gts))
        |SELECT g.user_id, g.gts AS grid_ms, e.value
        |FROM g ASOF JOIN e ON g.user_id = e.user_id AND g.gts >= e.tms
        |ORDER BY g.user_id, grid_ms""".stripMargin)),
    QueryDef("q_gaps", (s, d) => Integrity.gaps(Tables.lineitem(s, d), "l_orderkey"),
      Some("""WITH k AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS k FROM lineitem)
        |SELECT prev_k + 1 AS gap_start, k - 1 AS gap_end FROM (
        | SELECT k, lag(k) OVER (ORDER BY k) AS prev_k FROM k) t
        |WHERE prev_k IS NOT NULL AND k - prev_k > 1
        |ORDER BY gap_start""".stripMargin)),
    QueryDef("q_last_valid", (s, d) =>
      Integrity.lastValid(Tables.orders(s, d), "o_orderkey", Tables.lineitem(s, d), "l_orderkey"),
      Some("""SELECT coalesce(
        |  (SELECT min(o_orderkey) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)) - 1,
        |  (SELECT max(l_orderkey) FROM lineitem)) AS last_valid""".stripMargin)),
    QueryDef("q_reorg_check", (s, d) => Integrity.reorgFingerprints(Tables.events(s, d)),
      Some("""SELECT event_id,
        | md5(concat_ws('|', event_id, event_type, props)) AS fingerprint
        |FROM events ORDER BY event_id DESC LIMIT 16""".stripMargin)),
    QueryDef("q_complete_orders", (s, d) => Integrity.completeGroups(Tables.lineitem(s, d)),
      Some("""SELECT l_orderkey AS o_orderkey, count(*) AS n_items
        |FROM lineitem GROUP BY l_orderkey
        |HAVING count(*) = max(l_linenumber)
        |ORDER BY o_orderkey""".stripMargin)),
    // first_incomplete_block (0.0.64.sql:1643): the delete_incomplete_blocks
    // cut point — oldest group short of its declared child total
    QueryDef("q_first_incomplete", (s, d) =>
      Integrity.firstIncomplete(Tables.lineitem(s, d), "l_orderkey", "l_linenumber"),
      Some("""SELECT min(l_orderkey) AS first_incomplete FROM (
        | SELECT l_orderkey, count(*) AS n_rows, max(l_linenumber) AS declared
        | FROM lineitem GROUP BY l_orderkey) t
        |WHERE n_rows < declared""".stripMargin)),
    QueryDef("q_incremental_import", (s, d) => Integrity.incrementalImportQuery(Tables.events(s, d)),
      Some("""SELECT DISTINCT event_id, user_id, event_type FROM (
        | SELECT * FROM events WHERE event_id % 10 < 8
        | UNION ALL
        | SELECT * FROM events WHERE event_id % 10 >= 4
        |) staging
        |WHERE NOT EXISTS (
        | SELECT 1 FROM events main WHERE main.event_id % 10 < 2 AND main.event_id = staging.event_id)
        |ORDER BY event_id""".stripMargin))
  )
}
