package graft
package keys

import org.apache.spark.sql.functions.col
import graft.operators._
import Shared._

/** The SQL-migration view catalog (SURVEY §2 #4c-4g) and the formatted_*
  * presentation views (0.0.64.sql:1324-1395) with the
  * crc_token_transfer_2 / get_capacity API surface.
  */
object views {

  /** Block-context CTE for the formatted_* view oracles: the demo block
    * frame exactly as [[graft.operators.ReceiptClassifier.demoBlocks]]
    * builds it, with the timestamp pre-rendered as epoch µs.
    */
  private val fmtBlkCte =
    """,
      |blk AS (SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
      |        epoch_us(ts) AS ts_us, event_id AS block_number FROM events)""".stripMargin

  /** Shared oracle body for capacity_graph_3 and its since-block delta. */
  private def capacityGraph3Sql: String = demoCte +
      """,
        |blk AS (SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |               event_id AS number FROM events),
        |tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup'),
        |ct AS (SELECT "user", can_send_to, arg_max("limit", hash) AS "limit",
        |              max(hash) AS last_change
        |       FROM tr GROUP BY "user", can_send_to),
        |own AS (SELECT "user" AS token_owner, token FROM reg WHERE token IS NOT NULL),
        |balr AS (
        | SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance,
        |        max(hash) AS last_change_at FROM (
        |  SELECT token, "to" AS safe_address, CAST(value AS DECIMAL(18,4)) AS delta, hash FROM erc
        |  UNION ALL
        |  SELECT token, "from", -CAST(value AS DECIMAL(18,4)), hash FROM erc) dd
        | GROUP BY safe_address, token),
        |bal AS (SELECT b.safe_address, b.token, o.token_owner, b.balance, blk.number
        |        FROM balr b JOIN own o ON o.token = b.token
        |        LEFT JOIN blk ON blk.hash = b.last_change_at),
        |orgs AS (SELECT "user" AS organisation FROM reg WHERE token IS NULL),
        |a AS (SELECT o.token AS user_token, ct.can_send_to, ct."limit",
        |             blk.number AS trust_last_change
        |      FROM ct JOIN own o ON o.token_owner = ct."user"
        |      LEFT JOIN blk ON blk.hash = ct.last_change),
        |b2 AS (SELECT bal.safe_address AS "from", a.can_send_to AS "to", a."limit",
        |              bal.token_owner, bal.balance AS from_balance,
        |              bal.number AS from_balance_last_change, a.trust_last_change
        |       FROM a JOIN bal ON bal.token = a.user_token WHERE bal.balance >= 0),
        |c AS (SELECT b2.*, ownh.balance AS to_own_token_holdings,
        |             ownh.number AS to_own_token_holdings_last_change
        |      FROM b2 LEFT JOIN bal ownh
        |        ON ownh.safe_address = b2."to" AND ownh.token_owner = b2."to"),
        |d AS (SELECT c.*, coalesce(held.balance, 0.0) AS to_already_holds_balance,
        |             held.number AS to_already_holds_balance_last_change,
        |             os.organisation IS NOT NULL AS to_is_orga,
        |             c."to" = c.token_owner AS is_to_own_token
        |      FROM c LEFT JOIN bal held
        |        ON held.safe_address = c."to" AND held.token_owner = c.token_owner
        |        LEFT JOIN orgs os ON os.organisation = c."to"),
        |g AS (SELECT d.*,
        |       CASE WHEN is_to_own_token OR to_is_orga THEN from_balance
        |            ELSE to_own_token_holdings * "limit" / 100.0 END
        |       - to_already_holds_balance * (100 - "limit") / 100.0 AS net FROM d)
        |SELECT "from", "to", token_owner,
        | CASE WHEN (CASE WHEN net > from_balance THEN from_balance ELSE net END) < 0
        |      THEN 0.0
        |      ELSE CASE WHEN net > from_balance THEN from_balance ELSE net END
        | END AS capacity,
        | trust_last_change, from_balance_last_change,
        | to_already_holds_balance_last_change, to_own_token_holdings_last_change
        |FROM g WHERE "from" <> "to"
        |ORDER BY "from", "to", token_owner""".stripMargin

  private val trendingSql =
    """WITH pd AS (SELECT event_type, date_trunc('day', ts) AS day, count(*) AS n
      |            FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day, n,
      |       count(*) OVER win AS base_n,
      |       CAST(SUM(n) OVER win AS BIGINT) AS base_sum
      |      FROM pd
      |      WINDOW win AS (PARTITION BY event_type ORDER BY day
      |                     ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)),
      |b AS (SELECT *, CASE WHEN base_n = 3
      |        THEN round(CAST(base_sum AS DOUBLE) / base_n, 12) END AS baseline
      |      FROM w),
      |c AS (SELECT *, CASE WHEN baseline > 0
      |        THEN round(CAST(n AS DOUBLE) / baseline, 12) END AS lift FROM b)
      |SELECT event_type, epoch_ms(day) AS day_ms, n, baseline, lift,
      | COALESCE(lift >= 1.5, FALSE) AS trending
      |FROM c ORDER BY event_type, day_ms""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_safe_timeline", (s, d) => {
      val ev = Tables.events(s, d)
      // the synthetic receipts feed FIVE extractor legs; without a cache
      // each leg re-derives the whole construction subtree (6 scans of
      // events + 6× the md5/hex receipt build). persist() makes the legs
      // share one InMemoryRelation — the real deployment reads stored
      // detail tables here, so this mirrors that shape, not a bench trick
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      CirclesViews.safeTimeline(
        ReceiptClassifier.demoSignups(ev),
        ReceiptClassifier.extractTrusts(r),
        Demo.hubStr(r),
        Demo.erc20Str(r),
        ReceiptClassifier.extractEthTransfers(r),
        ReceiptClassifier.extractSafeEthTransfers(r))
        .withColumnRenamed("hash", "transaction_hash")
        .orderBy("transaction_hash", "type", "safe_address")
    },
      Some(demoCte +
      """,
        |hub AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "from",
        |  '0x' || lpad(lower(to_hex((user_id * 11 + 7) % 150)), 40, '0') AS "to",
        |  CAST(event_id AS VARCHAR) AS value
        | FROM events WHERE event_type = 'click'),
        |tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS VARCHAR) AS value
        | FROM events WHERE event_type = 'signup'),
        |eth AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "from",
        |  '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS "to",
        |  '1000000' AS value
        | FROM events WHERE event_type = 'error' AND event_id % 2 = 1),
        |seth AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS "from",
        |  '0x' || lpad(lower(to_hex((user_id * 13 + 29) % 150)), 40, '0') AS "to",
        |  CAST(event_id AS VARCHAR) AS value
        | FROM events WHERE event_type = 'error' AND event_id % 2 = 0),
        |legs AS (
        | SELECT hash, 'CrcSignup' AS type, "user" AS safe_address,
        |  "user" AS contact_address, 'self' AS direction, '0' AS value FROM reg
        | UNION ALL
        | SELECT hash, 'CrcTrust', can_send_to, "user", 'out', value FROM tr
        |  WHERE can_send_to IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'CrcTrust', "user", can_send_to, 'in', value FROM tr
        |  WHERE "user" <> can_send_to AND "user" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'CrcHubTransfer', "from", "to",
        |  CASE WHEN "from" = "to" THEN 'self' ELSE 'out' END, value FROM hub
        |  WHERE "from" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'CrcHubTransfer', "to", "from", 'in', value FROM hub
        |  WHERE "from" <> "to" AND "to" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT e.hash, 'CrcMinting', r."user", e."from", 'in', e.value
        |  FROM erc e JOIN reg r ON e.token = r.token
        |  WHERE e."from" = '0x' || repeat('0', 40)
        | UNION ALL
        | SELECT hash, 'EthTransfer', "from", "to",
        |  CASE WHEN "from" = "to" THEN 'self' ELSE 'out' END, value FROM eth
        |  WHERE "from" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'EthTransfer', "to", "from", 'in', value FROM eth
        |  WHERE "from" <> "to" AND "to" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'Erc20Transfer', "from", "to",
        |  CASE WHEN "from" = "to" THEN 'self' ELSE 'out' END, value FROM erc
        |  WHERE token NOT IN (SELECT token FROM reg WHERE token IS NOT NULL)
        |   AND "from" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'Erc20Transfer', "to", "from", 'in', value FROM erc
        |  WHERE token NOT IN (SELECT token FROM reg WHERE token IS NOT NULL)
        |   AND "from" <> "to" AND "to" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'GnosisSafeEthTransfer', "from", "to",
        |  CASE WHEN "from" = "to" THEN 'self' ELSE 'out' END, value FROM seth
        |  WHERE "from" IN (SELECT "user" FROM reg)
        | UNION ALL
        | SELECT hash, 'GnosisSafeEthTransfer', "to", "from", 'in', value FROM seth
        |  WHERE "from" <> "to" AND "to" IN (SELECT "user" FROM reg))
        |SELECT hash AS transaction_hash, type, safe_address, contact_address, direction, value
        |FROM legs ORDER BY transaction_hash, type, safe_address""".stripMargin)),
    QueryDef("q_crc_ledger", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.ledger(Demo.erc20Num(ReceiptClassifier.demoReceipts(ev)),
          ReceiptClassifier.demoSignups(ev))
        .orderBy("transaction_id", "verb", "safe_address")
    },
      Some(demoCte +
      """,
        |crc AS (
        | SELECT e.hash, e."from", e."to", e.token,
        |  CAST(e.value AS DECIMAL(18,4)) AS value, r."user" AS token_owner
        | FROM erc e JOIN reg r ON e.token = r.token)
        |SELECT * FROM (
        | SELECT hash AS transaction_id, 'add' AS verb, CAST(SUM(value) AS DOUBLE) AS value,
        |  token, token_owner, 'to' AS predicate, "to" AS safe_address
        | FROM crc GROUP BY hash, "to", token, token_owner
        | UNION ALL
        | SELECT hash, 'remove', CAST(-SUM(value) AS DOUBLE), token, token_owner, 'from', "from"
        | FROM crc GROUP BY hash, "from", token, token_owner)
        |ORDER BY transaction_id, verb, safe_address""".stripMargin)),
    QueryDef("q_balances_by_safe", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.balancesBySafe(
        CirclesViews.ledger(Demo.erc20Num(ReceiptClassifier.demoReceipts(ev)),
          ReceiptClassifier.demoSignups(ev)))
    },
      Some(demoCte +
      """,
        |crc AS (
        | SELECT e.hash, e."from", e."to", e.token,
        |  CAST(e.value AS DECIMAL(18,4)) AS value, r."user" AS token_owner
        | FROM erc e JOIN reg r ON e.token = r.token),
        |l AS (
        | SELECT 'add' AS verb, CAST(SUM(value) AS DOUBLE) AS value, "to" AS safe_address
        | FROM crc GROUP BY hash, "to", token, token_owner
        | UNION ALL
        | SELECT 'remove', CAST(-SUM(value) AS DOUBLE), "from"
        | FROM crc GROUP BY hash, "from", token, token_owner)
        |SELECT safe_address, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS balance
        |FROM l GROUP BY safe_address ORDER BY safe_address""".stripMargin)),
    QueryDef("q_erc20_minting", (s, d) =>
      CirclesViews.erc20Minting(Demo.erc20Str(ReceiptClassifier.demoReceipts(Tables.events(s, d))))
        .orderBy("hash"),
      Some(demoCte +
      """
        |SELECT hash, token, "from", "to", value FROM erc
        |WHERE "from" = '0x' || repeat('0', 40) ORDER BY hash""".stripMargin)),
    QueryDef("q_crc_minting", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.crcMinting(Demo.erc20Str(ReceiptClassifier.demoReceipts(ev)),
          ReceiptClassifier.demoSignups(ev))
        .select("hash", "token", "from", "to", "value", "token_owner")
        .orderBy("hash")
    },
      Some(demoCte +
      """
        |SELECT e.hash, e.token, e."from", e."to", e.value, r."user" AS token_owner
        |FROM erc e JOIN reg r ON e.token = r.token
        |WHERE e."from" = '0x' || repeat('0', 40) ORDER BY e.hash""".stripMargin)),
    QueryDef("q_total_minted", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.totalMinted(Demo.erc20Num(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoSignups(ev))
    },
      Some(demoCte +
      """
        |SELECT CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_crc_amount
        |FROM erc e JOIN reg r ON e.token = r.token
        |WHERE e."from" = '0x' || repeat('0', 40)""".stripMargin)),
    QueryDef("q_alive_accounts", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.aliveAccounts(Demo.crcTransfers(ev), ReceiptClassifier.demoBlocks(ev),
        horizonDays = 2)
    },
      Some(demoCte +
      """,
        |crct AS (SELECT e.* FROM erc e
        |         WHERE e.token IN (SELECT token FROM reg WHERE token IS NOT NULL)),
        |act AS (SELECT "to", max(ts) AS last_seen FROM crct GROUP BY "to"),
        |f AS (SELECT max(ts) AS frontier FROM events)
        |SELECT "to" FROM act, f
        |WHERE last_seen > frontier - INTERVAL 2 DAY ORDER BY "to"""".stripMargin)),
    QueryDef("q_dead_accounts", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.deadAccounts(Demo.crcTransfers(ev), ReceiptClassifier.demoBlocks(ev),
        horizonDays = 2)
    },
      Some(demoCte +
      """,
        |crct AS (SELECT e.* FROM erc e
        |         WHERE e.token IN (SELECT token FROM reg WHERE token IS NOT NULL)),
        |act AS (SELECT "to", max(ts) AS last_seen FROM crct GROUP BY "to"),
        |f AS (SELECT max(ts) AS frontier FROM events)
        |SELECT "to" FROM act, f
        |WHERE last_seen < frontier - INTERVAL 2 DAY ORDER BY "to"""".stripMargin)),
    QueryDef("q_accepted_tokens", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.safeAcceptedCrc(
        ReceiptClassifier.extractTrusts(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoSignups(ev))
    },
      Some("""WITH reg AS (
        | SELECT '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  CASE WHEN user_id % 4 <> 3
        |       THEN '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') END AS token
        | FROM (SELECT DISTINCT user_id FROM events)),
        |tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup')
        |SELECT t.can_send_to AS safe_address, r.token AS accepted_token,
        | r."user" AS accepted_token_owner,
        | arg_max(t."limit", t.hash) AS "limit", max(t.hash) AS last_change
        |FROM tr t JOIN reg r ON r."user" = t."user" AND r.token IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY safe_address, accepted_token""".stripMargin)),
    QueryDef("q_hub_transfers_per_day", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.perDayCounts(
        ReceiptClassifier.extractHubTransfers(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev), "transfers")
    },
      Some("""SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, count(*) AS transfers
        |FROM events WHERE event_type = 'click'
        |GROUP BY day_ms ORDER BY day_ms""".stripMargin)),
    // robust median/MAD outlier flags over the per-day transfer series —
    // the monitoring twin of the per-day views
    QueryDef("q_anomaly_days", (s, d) => {
      val ev = Tables.events(s, d)
      Behavior.robustAnomalies(
        CirclesViews.perDayCounts(
          ReceiptClassifier.extractHubTransfers(ReceiptClassifier.demoReceipts(ev)),
          ReceiptClassifier.demoBlocks(ev), "transfers"),
        "transfers").orderBy("day_ms")
    },
      Some("""WITH per_day AS (
        | SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, count(*) AS transfers
        | FROM events WHERE event_type = 'click' GROUP BY day_ms),
        |m1 AS (SELECT quantile_cont(CAST(transfers AS DOUBLE), 0.5) AS med FROM per_day),
        |m2 AS (SELECT quantile_cont(abs(CAST(transfers AS DOUBLE) - med), 0.5) AS mad
        |       FROM per_day, m1)
        |SELECT day_ms, transfers, round(med, 4) AS med, round(mad, 4) AS mad,
        | CASE WHEN mad = 0 THEN CAST(transfers AS DOUBLE) <> med
        |      ELSE abs(CAST(transfers AS DOUBLE) - med) > 3.0 * mad END AS is_anomaly
        |FROM per_day, m1, m2 ORDER BY day_ms""".stripMargin)),
    // SCD type-2 form of the trust history: validity intervals per edge
    QueryDef("q_trust_scd", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.trustHistoryScd(
        ReceiptClassifier.extractTrusts(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev))
    },
      Some("""WITH tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash, event_id AS num,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS u,
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS c,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS lim
        | FROM events WHERE event_type = 'signup'),
        |lagd AS (
        | SELECT u, c, lim, num,
        |  lag(lim) OVER (PARTITION BY u, c ORDER BY num, hash) AS prev
        | FROM tr),
        |ch AS (SELECT u, c, lim, num FROM lagd WHERE prev IS NULL OR prev <> lim)
        |SELECT u AS "user", c AS can_send_to, lim AS "limit", num AS valid_from,
        | lead(num) OVER (PARTITION BY u, c ORDER BY num) AS valid_to
        |FROM ch ORDER BY "user", can_send_to, valid_from""".stripMargin)),
    // SCD consumption: state at block N = range predicate, not max_by
    QueryDef("q_trust_at_block", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.trustAtBlock(
        CirclesViews.trustHistoryScd(
          ReceiptClassifier.extractTrusts(ReceiptClassifier.demoReceipts(ev)),
          ReceiptClassifier.demoBlocks(ev)),
        atBlock = 7500L)
    },
      // independent spelling: latest-limit-below-cut via arg_max — a
      // genuinely different formulation validating the SCD range semantics
      Some("""WITH tr AS (
        | SELECT event_id AS num,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS u,
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS c,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS lim
        | FROM events WHERE event_type = 'signup')
        |SELECT u AS "user", c AS can_send_to, arg_max(lim, num) AS "limit"
        |FROM tr WHERE num <= 7500 GROUP BY u, c
        |ORDER BY "user", can_send_to""".stripMargin)),
    // CDC: the changelog a replica applies to move from block 5000's trust
    // state to block 9000's (one pass over the same SCD frame)
    QueryDef("q_trust_delta", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.trustDelta(
        CirclesViews.trustHistoryScd(
          ReceiptClassifier.extractTrusts(ReceiptClassifier.demoReceipts(ev)),
          ReceiptClassifier.demoBlocks(ev)),
        fromBlock = 5000L, toBlock = 9000L)
    },
      // independent spelling: two arg_max cuts + a FULL JOIN — validates the
      // one-pass interval-cut diff against the naive two-state formulation
      Some("""WITH tr AS (
        | SELECT event_id AS num,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS u,
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS c,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS lim
        | FROM events WHERE event_type = 'signup'),
        |a AS (SELECT u, c, arg_max(lim, num) AS lim FROM tr
        |      WHERE num <= 5000 GROUP BY u, c),
        |b AS (SELECT u, c, arg_max(lim, num) AS lim FROM tr
        |      WHERE num <= 9000 GROUP BY u, c)
        |SELECT coalesce(a.u, b.u) AS "user", coalesce(a.c, b.c) AS can_send_to,
        | CASE WHEN a.u IS NULL THEN 'create'
        |      WHEN b.u IS NULL THEN 'delete' ELSE 'update' END AS op,
        | a.lim AS old_limit, b.lim AS new_limit
        |FROM a FULL JOIN b ON a.u = b.u AND a.c = b.c
        |WHERE a.lim IS DISTINCT FROM b.lim
        |ORDER BY "user", can_send_to""".stripMargin)),
    // per-user inter-event gap profile + burstiness (bot/sybil triage)
    QueryDef("q_burstiness", (s, d) => Behavior.interEventStats(Tables.events(s, d)),
      // lead() over the same (ts, event_id)-ordered per-user sequence
      // exact decimal moments over integer ms gaps; mean = integral µs DIV,
      // σ via the exact integer discriminant D = n·Σg²−(Σg)² (one double
      // cast + IEEE sqrt + floor — no large-magnitude round()); burstiness
      // is the O(1) value (√D−Σg)/(√D+Σg), the only round-12
      Some("""WITH e AS (
        | SELECT user_id, event_id, ts, epoch_us(ts) AS ts_us,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        | FROM events),
        |g AS (SELECT user_id,
        |       CAST(floor((ts_us - prev_us) / 1000) AS BIGINT) AS gap_ms
        |      FROM e WHERE prev_us IS NOT NULL),
        |a AS (SELECT user_id, count(*) AS n_gaps,
        |       sum(CAST(gap_ms AS DECIMAL(19,0))) AS s1,
        |       sum(CAST(gap_ms AS DECIMAL(19,0)) * CAST(gap_ms AS DECIMAL(19,0))) AS s2
        |      FROM g GROUP BY 1),
        |b AS (SELECT user_id, n_gaps, s1,
        |       CAST(CAST(n_gaps * s2 - s1 * s1 AS DECIMAL(38,0)) AS DOUBLE) AS dd
        |      FROM a)
        |SELECT user_id, n_gaps,
        | (CAST(s1 AS BIGINT) * 1000) // n_gaps AS mean_gap_us,
        | CAST(floor(sqrt(dd) * 1000.0 / n_gaps) AS BIGINT) AS std_gap_us,
        | CASE WHEN sqrt(dd) + CAST(s1 AS DOUBLE) > 0
        |      THEN round((sqrt(dd) - CAST(s1 AS DOUBLE))
        |                 / (sqrt(dd) + CAST(s1 AS DOUBLE)), 12)
        | END AS burstiness
        |FROM b ORDER BY user_id""".stripMargin)),
    // first-order Markov transition matrix over per-user event sequences
    QueryDef("q_transition_matrix", (s, d) =>
      Behavior.transitionMatrix(Tables.events(s, d)),
      Some("""WITH p AS (
        | SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        | FROM events),
        |c AS (SELECT from_type, to_type, count(*) AS n_transitions
        |      FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(n_transitions) AS total_from FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n_transitions,
        | round(CAST(c.n_transitions AS DOUBLE) / CAST(t.total_from AS DOUBLE), 12) AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin)),
    // trailing-window trending detection over the per-day event counts
    QueryDef("q_trending_events", (s, d) =>
      Behavior.trendingEvents(Tables.events(s, d))
        .select(col("event_type"),
          StateOps.epochMs(col("day").cast("timestamp")).as("day_ms"),
          col("n"), col("baseline"), col("lift"), col("trending"))
        .orderBy("event_type", "day_ms"),
      // trailing-3-observed-days mean per type; lift divides by the already-
      // rounded baseline (same IEEE op order as the Spark side). The served
      // twin shares the oracle verbatim: slicing through the additive count
      // store must be invisible
      Some(trendingSql)),
    // the SAME trending rollup served FROM the MAINTAINED per-day count
    // store: three hash-sliced micro-batches folded through the
    // manifest-committed view (exact long addition — any slicing
    // converges bit-for-bit), then windowed without touching raw events
    QueryDef("q_trending_served", (s, d) => {
      import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
      val ev = Tables.events(s, d)
      val viewDir = servedStore("days", d) { dir => // shared with q_changepoints_served
        ev.persist() // merges run 2 actions per slice
        (0 until 3).foreach { i =>
          graft.streaming.ViewMaintenance.mergeDayCountsBatch(s,
            ev.where(pmod(xxhash64(col("event_id")), lit(3)) === i),
            dir, numBuckets = 8, version = i.toLong)
        }
        ev.unpersist()
      }
      val counts = graft.streaming.ViewMaintenance.readViewOr(s, viewDir,
        graft.streaming.ViewMaintenance.dayCountsDelta(ev))
      Behavior.trendingFromCounts(counts)
        .select(col("event_type"),
          StateOps.epochMs(col("day").cast("timestamp")).as("day_ms"),
          col("n"), col("baseline"), col("lift"), col("trending"))
        .orderBy("event_type", "day_ms")
    },
      Some(trendingSql), storeBacked = true),
    // wealth concentration: Gini coefficient over per-customer lifetime
    // spend (the inequality metric a UBI deployment watches over its
    // balance cache) — the two-phase distributed rank, never a bare
    // unpartitioned window
    QueryDef("q_wealth_gini", (s, d) =>
      Economics.gini(Tables.orders(s, d).groupBy("o_custkey")
          .agg(StateOps.dsum(col("o_totalprice")).cast("double").as("wealth")),
        "wealth", "o_custkey"),
      // Gini via the ascending-rank formula; Σ rank·x accumulates as
      // DECIMAL(38,6) on both engines (exact past 2^53), ratios divide as
      // DOUBLE in the same operation order
      Some("""WITH w AS (SELECT o_custkey,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS wealth
        |       FROM orders GROUP BY 1),
        |r AS (SELECT wealth, CAST(wealth AS DECIMAL(18,4)) AS wd,
        |       row_number() OVER (ORDER BY wealth, o_custkey) AS rnk FROM w)
        |SELECT count(*) AS n, CAST(SUM(wd) AS DOUBLE) AS total,
        | round(2.0 * CAST(SUM(CAST(rnk * wd AS DECIMAL(38,6))) AS DOUBLE)
        |     / (CAST(count(*) AS DOUBLE) * CAST(SUM(wd) AS DOUBLE))
        |   - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 12) AS gini
        |FROM r""".stripMargin)),
    // concentration report over the same wealth frame: Nakamoto
    // coefficient (min holders forming a strict majority) + top-10 share
    QueryDef("q_concentration", (s, d) =>
      Economics.concentration(Tables.orders(s, d).groupBy("o_custkey")
          .agg(StateOps.dsum(col("o_totalprice")).cast("double").as("wealth")),
        "wealth", "o_custkey"),
      // concentration: the majority test is exact decimal algebra
      // (cum <= t − cum) on both engines; only shares are doubles
      Some("""WITH w AS (SELECT o_custkey,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS wealth
        |       FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, wealth, CAST(wealth AS DECIMAL(18,4)) AS wd,
        |       row_number() OVER (ORDER BY wealth DESC, o_custkey) AS rnk FROM w),
        |c AS (SELECT rnk, wd,
        |       CAST(SUM(wd) OVER (ORDER BY rnk) AS DECIMAL(38,6)) AS cum FROM r),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_holders,
        |       CAST(SUM(wd) AS DECIMAL(38,6)) AS t FROM r)
        |SELECT n_holders, CAST(t AS DOUBLE) AS total,
        | CASE WHEN t > 0 THEN
        |   CAST(SUM(CASE WHEN cum <= t - cum THEN 1 ELSE 0 END) + 1 AS BIGINT)
        | END AS nakamoto,
        | CASE WHEN t > 0 THEN
        |   round(CAST(max(CASE WHEN rnk <= 10 THEN cum END) AS DOUBLE)
        |         / CAST(t AS DOUBLE), 12)
        | END AS topk_share
        |FROM c, t GROUP BY n_holders, t""".stripMargin)),
    // Lorenz curve deciles over the same wealth frame: "the bottom half
    // holds cum_share of the spend"
    QueryDef("q_lorenz", (s, d) =>
      Economics.lorenz(Tables.orders(s, d).groupBy("o_custkey")
          .agg(StateOps.dsum(col("o_totalprice")).cast("double").as("wealth")),
        "wealth", "o_custkey"),
      // Lorenz deciles: bin by the exact integer rank formula (no NTILE
      // remainder convention), cumulative share from the running decimal sum
      Some("""WITH w AS (SELECT o_custkey,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS wealth
        |       FROM orders GROUP BY 1),
        |r AS (SELECT o_custkey, wealth, CAST(wealth AS DECIMAL(18,4)) AS wd,
        |       row_number() OVER (ORDER BY wealth, o_custkey) AS rnk FROM w),
        |t AS (SELECT count(*) AS n, SUM(wd) AS tot FROM r),
        |c AS (SELECT ((rnk - 1) * 10) // n AS bin, wd, tot,
        |       SUM(wd) OVER (ORDER BY rnk) AS cum FROM r, t)
        |SELECT bin, count(*) AS n_rows, CAST(SUM(wd) AS DOUBLE) AS wealth,
        | round(CAST(SUM(wd) AS DOUBLE) / CAST(any_value(tot) AS DOUBLE), 12) AS share,
        | round(CAST(max(cum) AS DOUBLE) / CAST(any_value(tot) AS DOUBLE), 12)
        |   AS cum_share
        |FROM c GROUP BY bin ORDER BY bin""".stripMargin)),
    // Herfindahl index + effective holder count over the same wealth
    // frame: one partial-agg pass, exact decimal moments, no rank
    QueryDef("q_hhi", (s, d) =>
      Economics.hhi(Tables.orders(s, d).groupBy("o_custkey")
          .agg(StateOps.dsum(col("o_totalprice")).cast("double").as("wealth")),
        "wealth"),
      // HHI: exact decimal moments, hhi/eff in one mirrored IEEE tree —
      // deliberately NO round() (1/hhi is large-magnitude, the round trap)
      Some("""WITH w AS (SELECT o_custkey,
        |        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS wealth
        |       FROM orders GROUP BY 1),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_holders,
        |       CAST(SUM(CAST(wealth AS DECIMAL(18,4))) AS DECIMAL(38,6)) AS s,
        |       SUM(CAST(CAST(wealth AS DECIMAL(19,4))
        |             * CAST(wealth AS DECIMAL(18,4)) AS DECIMAL(38,8))) AS ss
        |      FROM w)
        |SELECT n_holders, CAST(s AS DOUBLE) AS total,
        | CASE WHEN s > 0 THEN
        |   CAST(ss AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) END AS hhi,
        | CASE WHEN s > 0 THEN
        |   1.0 / (CAST(ss AS DOUBLE) / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)))
        | END AS effective_holders
        |FROM a""".stripMargin)),
    // velocity of money per day over the demo ERC-20 ledger: peer volume
    // over cumulative issuance, registered tokens only
    QueryDef("q_money_velocity", (s, d) => {
      val ev = Tables.events(s, d)
      val erc = Demo.erc20Num(ReceiptClassifier.demoReceipts(ev))
        .join(ReceiptClassifier.demoBlocks(ev).select("hash", "ts"), "hash")
      Economics.moneyVelocity(erc, ReceiptClassifier.demoSignups(ev))
        .select(StateOps.epochMs(col("day").cast("timestamp")).as("day_ms"),
          col("volume"), col("minted"), col("supply"), col("velocity"))
        .orderBy("day_ms")
    },
      // peer volume / cumulative issuance per day; mints = transfers from the
      // zero address, registered tokens only (the crc_* discipline)
      Some(demoCte +
      """,
        |crct AS (SELECT e.* FROM erc e
        |         WHERE e.token IN (SELECT token FROM reg WHERE token IS NOT NULL)),
        |pd AS (SELECT date_trunc('day', ts) AS day,
        |        COALESCE(SUM(CASE WHEN "from" = '0x' || repeat('0', 40)
        |          THEN CAST(value AS DECIMAL(18,4)) END),
        |          CAST(0 AS DECIMAL(18,4))) AS minted_d,
        |        COALESCE(SUM(CASE WHEN "from" <> '0x' || repeat('0', 40)
        |          THEN CAST(value AS DECIMAL(18,4)) END),
        |          CAST(0 AS DECIMAL(18,4))) AS vol_d
        |       FROM crct GROUP BY 1),
        |c AS (SELECT *, SUM(minted_d) OVER (ORDER BY day) AS supply_d FROM pd)
        |SELECT epoch_ms(day) AS day_ms, CAST(vol_d AS DOUBLE) AS volume,
        | CAST(minted_d AS DOUBLE) AS minted, CAST(supply_d AS DOUBLE) AS supply,
        | CASE WHEN supply_d > 0
        |   THEN round(CAST(vol_d AS DOUBLE) / CAST(supply_d AS DOUBLE), 12)
        | END AS velocity
        |FROM c ORDER BY day_ms""".stripMargin)),
    // first derivative of the trust view: edges created/revoked per day
    QueryDef("q_trust_churn", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.trustChurnPerDay(
        ReceiptClassifier.extractTrusts(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev))
    },
      Some("""WITH tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash, ts, event_id AS num,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS u,
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS c,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS lim
        | FROM events WHERE event_type = 'signup'),
        |lagd AS (
        | SELECT ts, lim,
        |  lag(lim) OVER (PARTITION BY u, c ORDER BY num, hash) AS prev
        | FROM tr)
        |SELECT epoch_ms(date_trunc('day', ts)) AS day_ms,
        | CAST(SUM(CASE WHEN lim > 0 AND coalesce(prev, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS edges_created,
        | CAST(SUM(CASE WHEN lim = 0 AND coalesce(prev, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS edges_revoked
        |FROM lagd GROUP BY day_ms ORDER BY day_ms""".stripMargin)),
    QueryDef("q_signups_per_day", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.perDayCounts(
        ReceiptClassifier.extractOrgSignups(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev), "signups")
    },
      Some("""SELECT epoch_ms(date_trunc('day', ts)) AS day_ms, count(*) AS signups
        |FROM events WHERE event_type = 'view'
        |GROUP BY day_ms ORDER BY day_ms""".stripMargin)),
    // the maintained view STORE on the driver gate: the same trust/balance
    // state as q_trust_view / q_token_balances, but built by replaying
    // three deterministic micro-batch slices through the manifest-committed
    // store and SERVED from readView — batch/streaming convergence is now
    // oracle-checked, not only spec'd
    QueryDef("q_trust_view_served", (s, d) => {
      import org.apache.spark.sql.functions._
      val trusts = ReceiptClassifier.extractTrusts(
        ReceiptClassifier.demoReceipts(Tables.events(s, d)))
      val viewDir = servedStore("trust", d) { dir =>
        // persisted: each merge runs 2 actions (touched-bucket probe +
        // write), so the md5-heavy demo extraction would otherwise
        // recompute 6×
        trusts.persist()
        (0 until 3).foreach { i =>
          graft.streaming.ViewMaintenance.mergeTrustBatch(s,
            trusts.where(pmod(xxhash64(col("hash")), lit(3)) === i),
            dir, numBuckets = 8, version = i.toLong) // buckets sized to the demo view
        }
        trusts.unpersist()
      }
      graft.streaming.ViewMaintenance.readViewOr(s, viewDir,
          CirclesViews.currentTrust(trusts))
        .select("user", "can_send_to", "limit", "history_count", "last_change")
        .orderBy("user", "can_send_to")
    },
      // the SERVED twins converge to the same state as the direct views —
      // the oracle is identical by design
      Some("""WITH tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup')
        |SELECT "user", can_send_to, arg_max("limit", hash) AS "limit",
        | count(*) AS history_count, max(hash) AS last_change
        |FROM tr GROUP BY "user", can_send_to
        |ORDER BY "user", can_send_to""".stripMargin), storeBacked = true),
    QueryDef("q_token_balances_served", (s, d) => {
      import org.apache.spark.sql.functions._
      val transfers = ReceiptClassifier.extractErc20Transfers(
          ReceiptClassifier.demoReceipts(Tables.events(s, d)))
        .withColumn("value",
          conv(regexp_replace(col("value_hex"), "^0x", ""), 16, 10).cast("long"))
      val viewDir = servedStore("bal", d) { dir =>
        transfers.persist() // see q_trust_view_served: merges run 2 actions per slice
        (0 until 3).foreach { i =>
          graft.streaming.ViewMaintenance.mergeBalancesBatch(s,
            transfers.where(pmod(xxhash64(col("hash")), lit(3)) === i),
            dir, numBuckets = 8, version = i.toLong) // buckets sized to the demo view
        }
        transfers.unpersist()
      }
      graft.streaming.ViewMaintenance.readViewOr(s, viewDir,
          graft.streaming.ViewMaintenance.balancesDelta(transfers))
        .select(col("safe_address"), col("token"),
          col("balance").cast("double").as("balance"), col("last_change_at"))
        .orderBy("safe_address", "token")
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
        |ORDER BY safe_address, token""".stripMargin), storeBacked = true),
    // the maintained SCD store on the driver gate: same intervals as
    // q_trust_scd, but built by replaying three hash-sliced micro-batches
    // (block numbers interleave ACROSS slices — real out-of-order arrival)
    // through the manifest-committed store and served collapsed from it
    QueryDef("q_trust_scd_served", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, d)
      val events = ReceiptClassifier.extractTrusts(ReceiptClassifier.demoReceipts(ev))
        .join(ReceiptClassifier.demoBlocks(ev).select("hash", "number"), "hash")
        .select("user", "can_send_to", "limit", "number", "hash")
      val viewDir = servedStore("scd", d) { dir =>
        events.persist() // see q_trust_view_served: merges run 2 actions per slice
        (0 until 3).foreach { i =>
          graft.streaming.ViewMaintenance.mergeTrustScdBatch(s,
            events.where(pmod(xxhash64(col("hash")), lit(3)) === i),
            dir, numBuckets = 8, version = i.toLong) // buckets sized to the demo view
        }
        events.unpersist()
      }
      graft.streaming.ViewMaintenance.readTrustScdView(s, viewDir)
        .drop("hash")
        .orderBy("user", "can_send_to", "valid_from")
    },
      // the served SCD store converges to the one-shot SCD — oracle identical
      // to q_trust_scd by design
      Some("""WITH tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash, event_id AS num,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS u,
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS c,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS lim
        | FROM events WHERE event_type = 'signup'),
        |lagd AS (
        | SELECT u, c, lim, num,
        |  lag(lim) OVER (PARTITION BY u, c ORDER BY num, hash) AS prev
        | FROM tr),
        |ch AS (SELECT u, c, lim, num FROM lagd WHERE prev IS NULL OR prev <> lim)
        |SELECT u AS "user", c AS can_send_to, lim AS "limit", num AS valid_from,
        | lead(num) OVER (PARTITION BY u, c ORDER BY num) AS valid_to
        |FROM ch ORDER BY "user", can_send_to, valid_from""".stripMargin), storeBacked = true),
    QueryDef("q_capacity_graph", (s, d) => {
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      val signups = ReceiptClassifier.demoSignups(ev)
      CirclesViews.capacityGraph2(
        CirclesViews.balancesBySafeAndToken(Demo.erc20Num(r)),
        CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(r)),
        signups,
        // the demo registry marks organisations as null-token signups
        signups.where(col("token").isNull).select(col("user").as("organisation")))
    },
      // crc_capacity_graph_2 (0.0.64.sql:945): the CTE chain a→h transcribed
      // verbatim over the demo registry — bal carries token_owner, orgs are
      // the null-token signups, capacity arithmetic all in DOUBLE (both
      // engines: left-assoc mul-then-div IEEE ops → bit-identical)
      Some(demoCte +
      """,
        |tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup'),
        |ct AS (SELECT "user", can_send_to, arg_max("limit", hash) AS "limit"
        |       FROM tr GROUP BY "user", can_send_to),
        |own AS (SELECT "user" AS token_owner, token FROM reg WHERE token IS NOT NULL),
        |balr AS (
        | SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance FROM (
        |  SELECT token, "to" AS safe_address, CAST(value AS DECIMAL(18,4)) AS delta FROM erc
        |  UNION ALL
        |  SELECT token, "from", -CAST(value AS DECIMAL(18,4)) FROM erc) dd
        | GROUP BY safe_address, token),
        |bal AS (SELECT b.safe_address, b.token, o.token_owner, b.balance
        |        FROM balr b JOIN own o ON o.token = b.token),
        |orgs AS (SELECT "user" AS organisation FROM reg WHERE token IS NULL),
        |a AS (SELECT o.token AS user_token, ct.can_send_to, ct."limit"
        |      FROM ct JOIN own o ON o.token_owner = ct."user"),
        |b2 AS (SELECT bal.safe_address AS "from", a.can_send_to AS "to", a."limit",
        |              bal.token_owner, bal.balance AS from_balance
        |       FROM a JOIN bal ON bal.token = a.user_token WHERE bal.balance >= 0),
        |c AS (SELECT b2.*, ownh.balance AS to_own_token_holdings
        |      FROM b2 LEFT JOIN bal ownh
        |        ON ownh.safe_address = b2."to" AND ownh.token_owner = b2."to"),
        |d AS (SELECT c.*, coalesce(held.balance, 0.0) AS to_already_holds_balance,
        |             os.organisation IS NOT NULL AS to_is_orga,
        |             c."to" = c.token_owner AS is_to_own_token
        |      FROM c LEFT JOIN bal held
        |        ON held.safe_address = c."to" AND held.token_owner = c.token_owner
        |        LEFT JOIN orgs os ON os.organisation = c."to"),
        |e AS (SELECT d.*,
        |       CASE WHEN is_to_own_token OR to_is_orga THEN from_balance
        |            ELSE to_own_token_holdings * "limit" / 100.0 END AS mta0 FROM d),
        |f AS (SELECT e.*, CASE WHEN "limit" > 0 THEN mta0 ELSE 0.0 END AS mta,
        |       to_already_holds_balance * (100 - "limit") / 100.0 AS dest_scaled FROM e),
        |g AS (SELECT f.*, CASE WHEN mta < to_already_holds_balance THEN 0.0
        |       ELSE CASE WHEN "limit" > 0 THEN mta - dest_scaled ELSE 0.0 END END AS cap_g FROM f),
        |h AS (SELECT "from", "to", token_owner,
        |       CASE WHEN to_is_orga OR is_to_own_token THEN mta
        |            ELSE CASE WHEN cap_g < 0 THEN 0.0
        |                 ELSE CASE WHEN from_balance < cap_g THEN from_balance - 1
        |                      ELSE cap_g - 1 END END END AS capacity,
        |       "limit"
        |      FROM g WHERE "from" <> "to")
        |SELECT "from", "to", token_owner,
        | CASE WHEN capacity < 0 THEN 0.0 ELSE capacity END AS capacity, "limit"
        |FROM h ORDER BY "from", "to", token_owner""".stripMargin)),
    // crc_capacity_graph v1 (0.0.64.sql:815) — the original catalog view,
    // ported beside _2/_3 for catalog completeness (no -1 margin, strict
    // balance > 0, registered receivers only, clamp-at-balance semantics)
    QueryDef("q_capacity_graph_1", (s, d) => {
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      CirclesViews.capacityGraph1(
        CirclesViews.balancesBySafeAndToken(Demo.erc20Num(r)),
        CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(r)),
        ReceiptClassifier.demoSignups(ev))
    },
      // crc_capacity_graph v1 (0.0.64.sql:815): the original catalog arms —
      // registered receivers only (inner join on reg), strict balance > 0
      // with sink addresses excluded, unconditional mta = owner_bal·limit/100,
      // zero-arm when the receiver already out-holds the transferable amount,
      // clamp at the holder's balance, org/own-token edges pass the full
      // balance; no −1 margin anywhere
      Some(demoCte +
      """,
        |tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup'),
        |ct AS (SELECT "user", can_send_to, arg_max("limit", hash) AS "limit"
        |       FROM tr GROUP BY "user", can_send_to),
        |own AS (SELECT "user" AS token_owner, token FROM reg WHERE token IS NOT NULL),
        |balr AS (
        | SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance FROM (
        |  SELECT token, "to" AS safe_address, CAST(value AS DECIMAL(18,4)) AS delta FROM erc
        |  UNION ALL
        |  SELECT token, "from", -CAST(value AS DECIMAL(18,4)) FROM erc) dd
        | GROUP BY safe_address, token),
        |bal AS (SELECT b.safe_address, b.token, b.balance
        |        FROM balr b JOIN own o ON o.token = b.token),
        |a AS (SELECT o.token AS token, ct."user" AS token_owner, ct.can_send_to,
        |             r.token AS receivers_own_token,
        |             r.token IS NULL AS can_send_to_is_orga, ct."limit"
        |      FROM ct JOIN own o ON o.token_owner = ct."user"
        |              JOIN reg r ON r."user" = ct.can_send_to
        |      WHERE ct."limit" > 0),
        |h AS (SELECT bal.safe_address AS token_holder, bal.balance, a.*
        |      FROM a JOIN bal ON bal.token = a.token
        |      WHERE bal.balance > 0 AND bal.safe_address <> a.can_send_to
        |        AND bal.safe_address <> '0x0000000000000000000000000000000000000000'
        |        AND bal.safe_address <> '0x0000000000000000000000000000000000000001'),
        |wob AS (SELECT h.*, coalesce(b.balance, 0.0) AS owner_bal
        |        FROM h LEFT JOIN bal b
        |          ON b.safe_address = h.token_owner AND b.token = h.token),
        |wrb AS (SELECT wob.*, coalesce(b.balance, 0.0) AS recv_bal
        |        FROM wob LEFT JOIN bal b
        |          ON b.safe_address = wob.can_send_to AND b.token = wob.token),
        |fin AS (SELECT wrb.*, owner_bal * "limit" / 100.0 AS mta,
        |               recv_bal * (100 - "limit") / 100.0 AS scaled FROM wrb)
        |SELECT token_holder, token, token_owner, balance, can_send_to,
        |       can_send_to_is_orga,
        |       CASE WHEN (receivers_own_token = token) OR can_send_to_is_orga
        |              THEN balance
        |            ELSE CASE WHEN recv_bal > 0 AND mta < recv_bal THEN 0.0
        |                 ELSE CASE WHEN mta - scaled < balance THEN mta - scaled
        |                      ELSE balance END END END AS capacity
        |FROM fin ORDER BY token_holder, token, can_send_to""".stripMargin)),
    QueryDef("q_capacity_graph_3", (s, d) => {
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      val signups = ReceiptClassifier.demoSignups(ev)
      CirclesViews.capacityGraph3(
        CirclesViews.balancesBySafeAndToken(Demo.erc20Num(r)),
        CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(r)),
        signups,
        signups.where(col("token").isNull).select(col("user").as("organisation")),
        ReceiptClassifier.demoBlocks(ev))
    },
      // crc_capacity_graph_3 (0.0.64.sql:1107): simpler capacity (min of
      // mta−dest_scaled and from_balance, no −1 margin, no limit gate) plus
      // block-number provenance for each input's last change
      Some(capacityGraph3Sql)),
    QueryDef("q_capacity_changes", (s, d) => {
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      val signups = ReceiptClassifier.demoSignups(ev)
      CirclesViews.capacityChangesSince(
        CirclesViews.balancesBySafeAndToken(Demo.erc20Num(r)),
        CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(r)),
        signups,
        signups.where(col("token").isNull).select(col("user").as("organisation")),
        ReceiptClassifier.demoBlocks(ev), sinceBlock = 5000L)
    },
      Some(s"""SELECT * FROM ($capacityGraph3Sql) t
        |WHERE from_balance_last_change >= 5000 OR trust_last_change >= 5000
        |ORDER BY "from", "to", token_owner""".stripMargin)),
    QueryDef("q_capacity_changes_2", (s, d) => {
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      val signups = ReceiptClassifier.demoSignups(ev)
      CirclesViews.capacityChangesSince2(
        CirclesViews.balancesBySafeAndToken(Demo.erc20Num(r)),
        CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(r)),
        signups,
        signups.where(col("token").isNull).select(col("user").as("organisation")),
        ReceiptClassifier.demoBlocks(ev), sinceBlock = 5000L)
    },
      // get_capacity_changes_since_block_2 (0.0.64.sql:1902): inline `_2`
      // recompute — moved-edge filter at CTE c, then the full e→f→g→h arms
      // with the −1 margin and limit>0 gate; declared return table
      // (token_holder, token_owner, can_send_to, capacity)
      Some(demoCte +
      """,
        |blk AS (SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |               event_id AS number FROM events),
        |tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup'),
        |ct AS (SELECT "user", can_send_to, arg_max("limit", hash) AS "limit",
        |              max(hash) AS last_change
        |       FROM tr GROUP BY "user", can_send_to),
        |own AS (SELECT "user" AS token_owner, token FROM reg WHERE token IS NOT NULL),
        |balr AS (
        | SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance,
        |        max(hash) AS last_change_at FROM (
        |  SELECT token, "to" AS safe_address, CAST(value AS DECIMAL(18,4)) AS delta, hash FROM erc
        |  UNION ALL
        |  SELECT token, "from", -CAST(value AS DECIMAL(18,4)), hash FROM erc) dd
        | GROUP BY safe_address, token),
        |bal AS (SELECT b.safe_address, b.token, o.token_owner, b.balance, blk.number
        |        FROM balr b JOIN own o ON o.token = b.token
        |        LEFT JOIN blk ON blk.hash = b.last_change_at),
        |orgs AS (SELECT "user" AS organisation FROM reg WHERE token IS NULL),
        |a AS (SELECT o.token AS user_token, ct.can_send_to, ct."limit",
        |             blk.number AS trust_last_change
        |      FROM ct JOIN own o ON o.token_owner = ct."user"
        |      LEFT JOIN blk ON blk.hash = ct.last_change),
        |b2 AS (SELECT bal.safe_address AS "from", a.can_send_to AS "to", a."limit",
        |              bal.token_owner, bal.balance AS from_balance
        |       FROM a JOIN bal ON bal.token = a.user_token
        |       WHERE bal.balance >= 0
        |         AND (a.trust_last_change >= 5000 OR bal.number >= 5000)),
        |c AS (SELECT b2.*, ownh.balance AS to_own_token_holdings
        |      FROM b2 LEFT JOIN bal ownh
        |        ON ownh.safe_address = b2."to" AND ownh.token_owner = b2."to"),
        |d AS (SELECT c.*, coalesce(held.balance, 0.0) AS to_already_holds_balance,
        |             os.organisation IS NOT NULL AS to_is_orga,
        |             c."to" = c.token_owner AS is_to_own_token
        |      FROM c LEFT JOIN bal held
        |        ON held.safe_address = c."to" AND held.token_owner = c.token_owner
        |        LEFT JOIN orgs os ON os.organisation = c."to"),
        |e AS (SELECT d.*,
        |       CASE WHEN is_to_own_token OR to_is_orga THEN from_balance
        |            ELSE to_own_token_holdings * "limit" / 100.0 END AS mta0 FROM d),
        |f AS (SELECT e.*, CASE WHEN "limit" > 0 THEN mta0 ELSE 0.0 END AS mta,
        |       to_already_holds_balance * (100 - "limit") / 100.0 AS dest_scaled FROM e),
        |g AS (SELECT f.*, CASE WHEN mta < to_already_holds_balance THEN 0.0
        |       ELSE CASE WHEN "limit" > 0 THEN mta - dest_scaled ELSE 0.0 END END AS cap_g FROM f),
        |h AS (SELECT "from" AS token_holder, token_owner, "to" AS can_send_to,
        |       CASE WHEN to_is_orga OR is_to_own_token THEN mta
        |            ELSE CASE WHEN cap_g < 0 THEN 0.0
        |                 ELSE CASE WHEN from_balance < cap_g THEN from_balance - 1
        |                      ELSE cap_g - 1 END END END AS capacity
        |      FROM g WHERE "from" <> "to")
        |SELECT token_holder, token_owner, can_send_to,
        | CASE WHEN capacity < 0 THEN 0.0 ELSE capacity END AS capacity
        |FROM h ORDER BY token_holder, can_send_to, token_owner""".stripMargin)),
    QueryDef("q_fmt_hub_transfer", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.formattedView(Demo.hubStr(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev)).orderBy("hash")
    },
      // formatted_* presentation views (0.0.64.sql:1324-1395): detail rows
      // with block context, value as text
      Some(demoCte + fmtBlkCte +
      """,
        |hub AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "from",
        |  '0x' || lpad(lower(to_hex((user_id * 11 + 7) % 150)), 40, '0') AS "to",
        |  CAST(event_id AS VARCHAR) AS value
        | FROM events WHERE event_type = 'click')
        |SELECT h.hash, h."from", h."to", h.value, b.ts_us, b.block_number,
        |       CAST(0 AS BIGINT) AS tx_index
        |FROM hub h JOIN blk b ON h.hash = b.hash ORDER BY h.hash""".stripMargin)),
    QueryDef("q_fmt_erc20_transfer", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.formattedView(Demo.erc20Str(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev)).orderBy("hash", "from")
    },
      Some(demoCte + fmtBlkCte +
      """
        |SELECT e.hash, e.token, e."from", e."to", e.value, b.ts_us,
        |       b.block_number, CAST(0 AS BIGINT) AS tx_index
        |FROM erc e JOIN blk b ON e.hash = b.hash ORDER BY e.hash, e."from"""".stripMargin)),
    QueryDef("q_fmt_crc_minting", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.formattedView(
        CirclesViews.crcMinting(Demo.erc20Str(ReceiptClassifier.demoReceipts(ev)),
            ReceiptClassifier.demoSignups(ev))
          .select("hash", "token", "from", "to", "value"),
        ReceiptClassifier.demoBlocks(ev)).orderBy("hash")
    },
      Some(demoCte + fmtBlkCte +
      """
        |SELECT e.hash, e.token, e."from", e."to", e.value, b.ts_us,
        |       b.block_number, CAST(0 AS BIGINT) AS tx_index
        |FROM erc e JOIN reg r ON e.token = r.token
        |            JOIN blk b ON e.hash = b.hash
        |WHERE e."from" = '0x' || repeat('0', 40) ORDER BY e.hash""".stripMargin)),
    QueryDef("q_fmt_eth_transfer", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.formattedView(
        ReceiptClassifier.extractEthTransfers(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev)).orderBy("hash")
    },
      Some(demoCte + fmtBlkCte +
      """,
        |eth AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "from",
        |  '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS "to",
        |  '1000000' AS value
        | FROM events WHERE event_type = 'error' AND event_id % 2 = 1)
        |SELECT e.hash, e."from", e."to", e.value, b.ts_us, b.block_number,
        |       CAST(0 AS BIGINT) AS tx_index
        |FROM eth e JOIN blk b ON e.hash = b.hash ORDER BY e.hash""".stripMargin)),
    QueryDef("q_fmt_safe_eth_transfer", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.formattedView(
        ReceiptClassifier.extractSafeEthTransfers(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoBlocks(ev)).orderBy("hash")
    },
      Some(demoCte + fmtBlkCte +
      """,
        |seth AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS initiator,
        |  '0x' || lpad(lower(to_hex(user_id + 2000000)), 40, '0') AS "from",
        |  '0x' || lpad(lower(to_hex((user_id * 13 + 29) % 150)), 40, '0') AS "to",
        |  CAST(event_id AS VARCHAR) AS value
        | FROM events WHERE event_type = 'error' AND event_id % 2 = 0)
        |SELECT s.hash, s.initiator, s."from", s."to", s.value, b.ts_us,
        |       b.block_number, CAST(0 AS BIGINT) AS tx_index
        |FROM seth s JOIN blk b ON s.hash = b.hash ORDER BY s.hash""".stripMargin)),
    QueryDef("q_token_transfer", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.crcTokenTransfer(Demo.erc20Str(ReceiptClassifier.demoReceipts(ev)),
        ReceiptClassifier.demoSignups(ev),
        ReceiptClassifier.demoBlocks(ev)).orderBy("hash", "from")
    },
      // crc_token_transfer_2 (0.0.64.sql:688): erc20 transfers of CRC tokens
      Some(demoCte + fmtBlkCte +
      """
        |SELECT e.hash, e.token, e."from", e."to", e.value, b.ts_us,
        |       b.block_number, CAST(0 AS BIGINT) AS tx_index
        |FROM erc e JOIN blk b ON e.hash = b.hash
        |WHERE e.token IN (SELECT token FROM reg WHERE token IS NOT NULL)
        |ORDER BY e.hash, e."from"""".stripMargin)),
    // the per-edge debug probe the pathfinder calls on a capacity mismatch
    QueryDef("q_get_capacity", (s, d) => {
      import org.apache.spark.sql.functions.broadcast
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      val owners = ReceiptClassifier.demoSignups(ev)
        .where(col("token").isNotNull)
        .select(col("token"), col("user").as("token_owner"))
      val bal = CirclesViews.balancesBySafeAndToken(Demo.erc20Num(r))
        .join(broadcast(owners), Seq("token"))
      val trust = CirclesViews.currentTrust(ReceiptClassifier.extractTrusts(r))
      CirclesViews.getCapacity(bal, trust,
        from = "0x" + "0" * 34 + "1e8481", // addr(2000001): holder of user 1's token
        to = "0x" + "0" * 38 + "14",       // addr(20): user 1's trustee (7·1+13)
        tokenOwner = "0x" + "0" * 39 + "1")
    },
      // get_capacity(from,to,token_owner) (0.0.64.sql:1674): the 9-row debug
      // probe — args rows only when their lookup matched, calc rows always
      Some(demoCte +
      """,
        |tr AS (
        | SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) % 101 AS "limit"
        | FROM events WHERE event_type = 'signup'),
        |ct AS (SELECT "user", can_send_to, arg_max("limit", hash) AS "limit"
        |       FROM tr GROUP BY "user", can_send_to),
        |own AS (SELECT "user" AS token_owner, token FROM reg WHERE token IS NOT NULL),
        |bal AS (
        | SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance FROM (
        |  SELECT token, "to" AS safe_address, CAST(value AS DECIMAL(18,4)) AS delta FROM erc
        |  UNION ALL
        |  SELECT token, "from", -CAST(value AS DECIMAL(18,4)) FROM erc) dd
        | GROUP BY safe_address, token),
        |balo AS (SELECT b.safe_address, o.token_owner, b.balance
        |         FROM bal b JOIN own o USING (token)),
        |p AS (SELECT '0x' || repeat('0', 34) || '1e8481' AS a_from,
        |             '0x' || repeat('0', 38) || '14' AS a_to,
        |             '0x' || repeat('0', 39) || '1' AS a_owner),
        |args AS (
        | SELECT 1 AS id, 'token_owner''s balance of token_owner''s own tokens' AS label,
        |        balance AS value
        | FROM balo, p WHERE safe_address = a_owner AND token_owner = a_owner
        | UNION ALL
        | SELECT 2, 'receiver''s balance of token_owner''s tokens', balance
        | FROM balo, p WHERE safe_address = a_to AND token_owner = a_owner
        | UNION ALL
        | SELECT 3, 'senders''s balance of token_owner''s tokens', balance
        | FROM balo, p WHERE safe_address = a_from AND token_owner = a_owner
        | UNION ALL
        | SELECT 4, 'receiver''s trust in token_owner''s token (%)',
        |        CAST("limit" AS DOUBLE)
        | FROM ct, p WHERE can_send_to = a_to AND "user" = a_owner
        | UNION ALL
        | SELECT 5, 'receiver''s balance of receiver''s own tokens', balance
        | FROM balo, p WHERE safe_address = a_to AND token_owner = a_to),
        |calc_1 AS (
        | SELECT * FROM args
        | UNION ALL
        | SELECT 6, 'max',
        |  (SELECT value FROM args WHERE id = 5) * (SELECT value FROM args WHERE id = 4) / 100
        | UNION ALL
        | SELECT 7, 'destBalanceScaled',
        |  (SELECT value FROM args WHERE id = 2)
        |    * (100 - (SELECT value FROM args WHERE id = 4)) / 100),
        |calc_2 AS (
        | SELECT * FROM calc_1
        | UNION ALL
        | SELECT 8, 'max < receiver''s balance of token_owner''s tokens',
        |  CASE WHEN ((SELECT value FROM calc_1 WHERE id = 6)
        |             < (SELECT value FROM args WHERE id = 2))
        |       THEN 1.0 ELSE 0.0 END
        | UNION ALL
        | SELECT 9, 'sendLimit',
        |  CASE WHEN ((SELECT value FROM calc_1 WHERE id = 6)
        |             < (SELECT value FROM args WHERE id = 2))
        |       THEN 0.0
        |       ELSE (SELECT value FROM calc_1 WHERE id = 6)
        |            - (SELECT value FROM calc_1 WHERE id = 7) END)
        |SELECT id, label, value FROM calc_2 ORDER BY id""".stripMargin)),
    QueryDef("q_all_signups", (s, d) => {
      val ev = Tables.events(s, d)
      CirclesViews.allSignups(ReceiptClassifier.demoSignups(ev),
        ReceiptClassifier.extractOrgSignups(ReceiptClassifier.demoReceipts(ev)))
    },
      Some("""WITH reg AS (
        | SELECT '0x' || md5('signup-' || CAST(user_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  CASE WHEN user_id % 4 <> 3
        |       THEN '0x' || lpad(lower(to_hex(user_id + 1000000)), 40, '0') END AS token
        | FROM (SELECT DISTINCT user_id FROM events)),
        |org AS (SELECT '0x' || md5(CAST(event_id AS VARCHAR)) AS hash,
        |  '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  CAST(NULL AS VARCHAR) AS token
        | FROM events WHERE event_type = 'view')
        |SELECT hash, "user", token FROM reg
        |UNION ALL SELECT hash, "user", token FROM org
        |ORDER BY hash""".stripMargin)),
    QueryDef("q_all_addresses", (s, d) => {
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      CirclesViews.allAddresses(Demo.erc20Str(r),
        ReceiptClassifier.extractTrusts(r),
        ReceiptClassifier.demoSignups(ev),
        ReceiptClassifier.extractOrgSignups(r))
    },
      Some(demoCte +
      """,
        |tr AS (
        | SELECT '0x' || lpad(lower(to_hex(user_id)), 40, '0') AS "user",
        |  '0x' || lpad(lower(to_hex((user_id * 7 + 13) % 150)), 40, '0') AS can_send_to
        | FROM events WHERE event_type = 'signup'),
        |legs AS (
        | SELECT 'transfer_from' AS type, "from" AS address FROM erc
        | UNION ALL SELECT 'transfer_to', "to" FROM erc
        | UNION ALL SELECT 'trust_user', "user" FROM tr
        | UNION ALL SELECT 'trust_can_send_to', can_send_to FROM tr
        | UNION ALL SELECT 'signup_user', "user" FROM reg
        | UNION ALL SELECT 'organisation', '0x' || lpad(lower(to_hex(user_id)), 40, '0')
        |           FROM events WHERE event_type = 'view')
        |SELECT DISTINCT type, address FROM legs ORDER BY type, address""".stripMargin)),
    QueryDef("q_erc20_balances", (s, d) => {
      val ev = Tables.events(s, d)
      val r = ReceiptClassifier.demoReceipts(ev).persist()
      CirclesViews.erc20BalancesBySafeAndToken(Demo.erc20Num(r),
        CirclesViews.allSignups(ReceiptClassifier.demoSignups(ev),
          ReceiptClassifier.extractOrgSignups(r)))
    },
      // erc20_balances_by_safe_and_token (0.0.64.sql:1581): non-CRC tokens
      // only (NOT IN the signup-token registry), participant legs of
      // signed-up safes, one out-leg when from = to (the catalog's CASE)
      Some(demoCte +
      """,
        |crc AS (SELECT token FROM reg WHERE token IS NOT NULL),
        |ncl AS (
        | SELECT l.safe_address, l.token, l.delta, l.hash FROM (
        |  SELECT "from" AS safe_address, token, -CAST(value AS DECIMAL(18,4)) AS delta, hash
        |  FROM erc WHERE token NOT IN (SELECT token FROM crc)
        |  UNION ALL
        |  SELECT "to", token, CAST(value AS DECIMAL(18,4)), hash
        |  FROM erc WHERE token NOT IN (SELECT token FROM crc) AND "from" <> "to") l
        | WHERE l.safe_address IN (SELECT "user" FROM reg))
        |SELECT safe_address, token, CAST(SUM(delta) AS DOUBLE) AS balance,
        | max(hash) AS last_change_at
        |FROM ncl GROUP BY safe_address, token
        |ORDER BY safe_address, token""".stripMargin))
  )
}
