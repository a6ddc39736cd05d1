package graft
package keys

import org.apache.spark.sql.functions.{array_contains, col, expr, split, when}
import graft.operators._
import Shared._

/** The LLM-data pipeline (SURVEY §2 #24-33): dedup, quality, mixing,
  * sampling, scrubbing and text metrics.
  */
object corpus {

  /** Shared canonical-doc oracle - `q_canonical_docs` (one-shot) and
    * `q_canonical_docs_served` (stored-cluster twin) must both reproduce
    * it exactly.
    */
  private val CanonicalDocsOracleSql: String =
    """WITH RECURSIVE w AS (
            | SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS words
            | FROM documents),
            |s AS (
            | SELECT doc_id,
            |  CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
            |       ELSE list_distinct(list_transform(range(len(words) - 2),
            |            i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])) END AS sh
            | FROM w),
            |e AS (
            | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            | FROM s a JOIN s b ON a.doc_id < b.doc_id
            | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
            |sym AS (SELECT doc_a AS s, doc_b AS d FROM e
            |        UNION ALL SELECT doc_b, doc_a FROM e),
            |reach(id, r) AS (
            | SELECT s, s FROM (SELECT DISTINCT s FROM sym) t
            | UNION
            | SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.id),
            |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
            |mm AS (SELECT c.doc_id, c.cluster_id, d.n_chars
            |       FROM cl c JOIN documents d USING (doc_id)),
            |canon AS (SELECT cluster_id, doc_id AS canonical_id FROM (
            |           SELECT cluster_id, doc_id,
            |            row_number() OVER (PARTITION BY cluster_id
            |                               ORDER BY n_chars DESC, doc_id) AS rk
            |           FROM mm) t WHERE rk = 1)
            |SELECT d.doc_id,
            | coalesce(cl.cluster_id, d.doc_id) AS cluster_id,
            | coalesce(c2.canonical_id, d.doc_id) AS canonical_id,
            | coalesce(c2.canonical_id, d.doc_id) = d.doc_id AS is_canonical
            |FROM documents d
            |LEFT JOIN cl ON d.doc_id = cl.doc_id
            |LEFT JOIN canon c2 ON cl.cluster_id = c2.cluster_id
            |ORDER BY d.doc_id""".stripMargin

  /** GENERATED oracle for q_dedup_minhash (the q_trust_rank_weighted
    * unrolled-CTE precedent): embeds the SAME affine-mix coefficients as
    * [[operators.Dedup.minhashLshExact]], signatures in HUGEINT (the
    * decimal(38,0) twin of the Spark side), md5-56 3-gram keys.
    */
  private val minhashExactSql: String = {
    val coeffs = operators.Dedup.minhashExactCoeffs(16)
    val p = operators.Dedup.MinhashExactP
    val sigExprs = coeffs.zipWithIndex.map { case ((a, b), j) =>
      s"CAST(MIN((g::HUGEINT * $a + $b) % $p) AS BIGINT) AS s$j"
    }.mkString(",\n ")
    val bands = (0 until 8).map { bnd =>
      s"SELECT doc_id, $bnd AS band, s${2 * bnd} AS x, s${2 * bnd + 1} AS y FROM sig"
    }.mkString("\n UNION ALL ")
    s"""WITH base AS (SELECT doc_id,
       |        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
       |       FROM documents),
       |g AS (SELECT DISTINCT doc_id,
       |       ('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 14))::BIGINT AS g
       |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
       |            FROM base WHERE len(toks) >= 3) z),
       |sig AS (SELECT doc_id,
       | $sigExprs
       | FROM g GROUP BY doc_id),
       |bands AS ($bands),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM bands a JOIN bands b
       |           ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id),
       |n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
       |com AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
       |        FROM cand c JOIN g ga ON ga.doc_id = c.doc_a
       |                    JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
       |        GROUP BY c.doc_a, c.doc_b),
       |j AS (SELECT c.doc_a, c.doc_b,
       |       round(CAST(COALESCE(m.n_common, 0) AS DOUBLE)
       |             / (na.n + nb.n - COALESCE(m.n_common, 0)), 12) AS jaccard
       |      FROM cand c JOIN n na ON na.doc_id = c.doc_a
       |                  JOIN n nb ON nb.doc_id = c.doc_b
       |                  LEFT JOIN com m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b)
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The paragraph-decorated corpus, verbatim SQL twin of [[Demo.paraDocs]]. */
  private val paraDecoSql =
    """SELECT doc_id,
      | 'intro for doc ' || CAST(doc_id AS VARCHAR) ||
      | chr(10) || chr(10) ||
      | 'shared boilerplate block variant ' || CAST(doc_id % 7 AS VARCHAR) ||
      | chr(10) || chr(10) ||
      | CASE WHEN doc_id % 3 = 0 THEN 'common promo text'
      |      ELSE 'tail words for doc ' || CAST(doc_id AS VARCHAR) END ||
      | CASE WHEN doc_id % 5 = 0
      |      THEN chr(10) || chr(10) ||
      |           'shared boilerplate block variant ' || CAST(doc_id % 7 AS VARCHAR)
      |      ELSE '' END AS text
      |FROM documents""".stripMargin

  /** The URL-decorated corpus, verbatim SQL twin of [[Demo.urlDocs]]. */
  private val urlDecoSql =
    """SELECT doc_id,
      | text ||
      | CASE WHEN doc_id % 4 = 0
      |      THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/p'
      |      ELSE '' END ||
      | CASE WHEN doc_id % 9 = 0
      |      THEN ' ref http://a' || CAST(doc_id % 3 AS VARCHAR) || '.ads.badsite.net/x'
      |      ELSE '' END AS text
      |FROM documents""".stripMargin

  /** The PII-decorated corpus, verbatim SQL twin of [[Demo.decoratedDocs]]. */
  private val decoSql =
    """SELECT doc_id,
      | text ||
      | CASE WHEN doc_id % 3 = 0
      |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com asap'
      |      ELSE '' END ||
      | CASE WHEN doc_id % 5 = 0
      |      THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END ||
      | CASE WHEN doc_id % 7 = 0
      |      THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      |        '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
      |        '.' || CAST((doc_id * 13) % 256 AS VARCHAR)
      |      ELSE '' END AS text
      |FROM documents""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_exact", (s, d) => Dedup.exact(Tables.documents(s, d)),
      Some("""SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin)),
    // C4-style corpus-wide paragraph dedup over paragraph-decorated docs
    QueryDef("q_para_dedup", (s, d) => Dedup.paragraphDedup(Demo.paraDocs(Tables.documents(s, d))),
      Some(s"""WITH deco AS ($paraDecoSql),
        |p AS (SELECT doc_id,
        |        unnest(string_split(text, chr(10)||chr(10))) AS para,
        |        generate_subscripts(string_split(text, chr(10)||chr(10)), 1) AS idx
        |      FROM deco),
        |s AS (SELECT doc_id, idx, para,
        |        row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |      FROM p),
        |r AS (SELECT doc_id,
        |        string_agg(para, chr(10)||chr(10) ORDER BY idx) AS text,
        |        count(*) AS n_kept
        |      FROM s WHERE rn = 1 GROUP BY doc_id),
        |t AS (SELECT doc_id, len(string_split(text, chr(10)||chr(10))) AS n_paras
        |      FROM deco)
        |SELECT t.doc_id, coalesce(r.text, '') AS text, t.n_paras,
        |       coalesce(r.n_kept, 0) AS n_kept
        |FROM t LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin)),
    QueryDef("q_substring_dedup", (s, d) => Dedup.substringDedup(Tables.documents(s, d)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |occ AS (
        | SELECT doc_id, u.g AS pos, array_to_string(t[u.g+1 : u.g+5], ' ') AS gram
        | FROM toks, unnest(CASE WHEN len(t) >= 5
        |                        THEN generate_series(0, len(t)-5) ELSE [] END) AS u(g)),
        |flagged AS (
        | SELECT doc_id, pos FROM (
        |  SELECT doc_id, pos,
        |         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |  FROM occ) WHERE rn > 1),
        |covered AS (
        | SELECT DISTINCT doc_id, v.p AS cp
        | FROM flagged, unnest(generate_series(pos, pos+4)) AS v(p)),
        |cov AS (SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id),
        |kept AS (
        | SELECT t.doc_id, s.i AS i, t.t[s.i] AS tok
        | FROM toks t, unnest(generate_series(1, len(t.t))) AS s(i)
        | WHERE NOT EXISTS (SELECT 1 FROM covered c
        |                   WHERE c.doc_id = t.doc_id AND c.cp = s.i - 1)),
        |rebuilt AS (
        | SELECT doc_id, array_to_string(list(tok ORDER BY i), ' ') AS text_dedup
        | FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
        |       coalesce(c.n_removed, 0) AS n_removed
        |FROM documents d
        | LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        | LEFT JOIN cov c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin)),
    // Bloom contamination gate: eval set = every 10th doc; engine-specific
    // hashing → rows-only (exactness and FPR are spec'd in BloomSpec)
    QueryDef("q_bloom_gate", (s, d) => {
      val docs = Tables.documents(s, d)
      val bloom = Dedup.buildContaminationBloom(docs.where(col("doc_id") % 10 === 0))
      Dedup.bloomGate(docs, bloom)
        .select("doc_id", "maybe_contaminated").orderBy("doc_id")
    }, None),
    // the 100 TB form (8-byte shuffle key): same answer as q_dedup_exact,
    // recorded in the per-round gate rather than only in DedupSpec
    QueryDef("q_dedup_exact_hash", (s, d) => Dedup.exactByHash(Tables.documents(s, d)),
      // same answer as q_dedup_exact by construction — the hash-keyed scale
      // twin must reproduce it exactly
      Some("""SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin)),
    // round 11: both keys re-keyed to the EXACT cross-engine editions
    // (md5-56 grams/words, affine-mod signatures) so the DuckDB oracle
    // re-derives every signature — upgraded from rows-only to hash-match.
    // The xxhash64 natives stay the scale path (DedupSpec parity-pins the
    // two spellings on planted near-dups).
    QueryDef("q_dedup_minhash", (s, d) => Dedup.minhashLshExact(Tables.documents(s, d)),
      // exact cross-engine minhash/simhash (round 11): the oracle re-derives
      // signatures from md5-56 keys — see minhashExactSql / the 56-bit
      // frequency-weighted simhash twin below
      Some(minhashExactSql)),
    QueryDef("q_dedup_simhash", (s, d) => Dedup.simhashDedupExact(Tables.documents(s, d)),
      Some("""WITH w AS (SELECT doc_id, ('0x' || substring(md5(x), 1, 14))::BIGINT AS h
        |           FROM (SELECT doc_id,
        |                  unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS x
        |                 FROM documents) t),
        |bits AS (SELECT doc_id, b,
        |          SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |         FROM w CROSS JOIN (SELECT unnest(generate_series(0, 55)) AS b) bb
        |         GROUP BY doc_id, b),
        |sig AS (SELECT doc_id,
        |         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sig
        |        FROM bits GROUP BY doc_id),
        |ch AS (SELECT doc_id, sig, c, (sig >> (c * 14)) & 16383 AS chunk
        |       FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) cc),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                a.sig AS sa, b.sig AS sb
        |         FROM ch a JOIN ch b
        |           ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("q_ngram_jaccard", (s, d) => {
      import org.apache.spark.sql.functions.{col, round}
      // filter on the RAW jaccard (operator semantics), round for output
      // parity; the hashed-shingle sets make the same set sizes as string
      // shingles absent 2^-64 collisions, so the brute-force DuckDB twin
      // is a true oracle for the index's sound prefix/size pruning
      Dedup.ngramJaccardPairs(Tables.documents(s, d))
        .withColumn("jaccard", round(col("jaccard"), 12))
    },
      // brute-force twin of the prefix-indexed ppjoin: the index's pruning
      // is SOUND (never drops an at-threshold pair), so all-pairs scoring
      // over string shingles must reproduce it exactly
      Some("""WITH w AS (
        | SELECT doc_id, source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS words
        | FROM documents),
        |s AS (
        | SELECT doc_id, source,
        |  CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |       ELSE list_distinct(list_transform(range(len(words) - 2),
        |            i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])) END AS sh
        | FROM w)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))), 12) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.source = b.source
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |   / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.02
        |ORDER BY doc_a, doc_b""".stripMargin)),
    QueryDef("q_dup_clusters", (s, d) =>
      Dedup.dupClusters(Dedup.ngramJaccardPairsIndexed(Tables.documents(s, d),
        threshold = 0.5, blockBySource = false)),
      Some("""WITH RECURSIVE w AS (
        | SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS words
        | FROM documents),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |       ELSE list_distinct(list_transform(range(len(words) - 2),
        |            i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])) END AS sh
        | FROM w),
        |e AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM s a JOIN s b ON a.doc_id < b.doc_id
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |sym AS (SELECT doc_a AS s, doc_b AS d FROM e
        |        UNION ALL SELECT doc_b, doc_a FROM e),
        |reach(id, r) AS (
        | SELECT s, s FROM (SELECT DISTINCT s FROM sym) t
        | UNION
        | SELECT sym.d, reach.r FROM reach JOIN sym ON sym.s = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id FROM reach
        |GROUP BY id ORDER BY doc_id""".stripMargin)),
    // canonical-copy selection per dup cluster (longest member wins,
    // doc_id tie-break); every doc gets a keep/drop verdict
    QueryDef("q_canonical_docs", (s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.canonicalDocs(docs,
        Dedup.dupClusters(Dedup.ngramJaccardPairsIndexed(docs,
          threshold = 0.5, blockBySource = false)))
    },
      // canonical selection: the q_dup_clusters CC spelling + a per-cluster
      // (n_chars DESC, doc_id) row_number argmax, left-joined onto the corpus
      Some(CanonicalDocsOracleSql)),
    // the STORED-cluster twin (the _served precedent, same oracle): at
    // scale the dup-cluster frame is a maintained artifact, not
    // recomputed per consumer — the pick itself is one min_by partial
    // agg + a doc_id-keyed decoration join over the stored labels
    QueryDef("q_canonical_docs_served", (s, d) => {
      val docs = Tables.documents(s, d)
      val store = servedStore("dup_clusters", d) { dir =>
        Dedup.dupClusters(Dedup.ngramJaccardPairsIndexed(docs,
          threshold = 0.5, blockBySource = false))
          .write.mode("overwrite").parquet(dir)
      }
      Dedup.canonicalDocs(docs, s.read.parquet(store))
    },
      // the stored-cluster serve twin reproduces the one-shot rows exactly
      Some(CanonicalDocsOracleSql), storeBacked = true),
    QueryDef("q_quality_filter", (s, d) => TextMetrics.qualityFilter(Tables.documents(s, d)),
      Some("""WITH m AS (
        | SELECT doc_id, length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_words,
        |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
        |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
        | FROM documents),
        |d AS (
        | SELECT doc_id,
        |  CASE WHEN n_chars < 100 THEN 'too_short'
        |       WHEN n_words < 20 THEN 'too_few_words'
        |       WHEN avg_word_len > 4.95 THEN 'gibberish_words'
        |       WHEN punct_ratio > 0.3 THEN 'too_much_punct'
        |       WHEN stopword_ratio < 0.0 THEN 'low_stopword' END AS r
        | FROM m)
        |SELECT doc_id, r IS NULL AS keep, coalesce(r, 'ok') AS reason
        |FROM d ORDER BY doc_id""".stripMargin)),
    // per-stage yield accounting over the full curation chain
    QueryDef("q_curation_funnel", (s, d) => TextMetrics.curationFunnel(Tables.documents(s, d)),
      // the funnel reuses the q_quality_filter / q_repetition_filter /
      // q_lang_id oracle spellings verbatim as its stage predicates, then
      // rolls up a first-failing-stage census with exact-dedup among the
      // scalar-stage survivors (keeper = min doc_id)
      Some("""WITH qm AS (
        | SELECT doc_id, length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_words,
        |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
        |  CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS DOUBLE)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
        | FROM documents),
        |qual AS (
        | SELECT doc_id,
        |  CASE WHEN n_chars < 100 THEN 'too_short'
        |       WHEN n_words < 20 THEN 'too_few_words'
        |       WHEN avg_word_len > 4.95 THEN 'gibberish_words'
        |       WHEN punct_ratio > 0.3 THEN 'too_much_punct'
        |       WHEN stopword_ratio < 0.0 THEN 'low_stopword' END AS r
        | FROM qm),
        |words AS (
        | SELECT doc_id, ws[pos] AS w, pos
        | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
        |      LATERAL (SELECT unnest(generate_series(1, len(d.ws))) AS pos) g),
        |runs AS (
        | SELECT doc_id, w,
        |  pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS grp
        | FROM words),
        |run_lens AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
        | FROM runs GROUP BY doc_id, w, grp),
        |bigrams AS (
        | SELECT doc_id, bg FROM (
        |  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        |  FROM words) x WHERE bg IS NOT NULL),
        |bg_counts AS (
        | SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
        | FROM bigrams GROUP BY doc_id, bg),
        |rm AS (
        | SELECT a.doc_id,
        |  round(1.0 - CAST(a.n_distinct AS DOUBLE)/a.n_words, 6) AS dup_word_frac,
        |  (SELECT max(run_len) FROM run_lens r WHERE r.doc_id=a.doc_id) AS max_word_run,
        |  round(CAST((SELECT max(c) FROM bg_counts b WHERE b.doc_id=a.doc_id) AS DOUBLE)
        |        / nullif(a.n_words - 1, 0), 6) AS top_bigram_frac
        | FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |        CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
        |       FROM words GROUP BY doc_id) a),
        |rep AS (
        | SELECT doc_id,
        |  CASE WHEN dup_word_frac > 0.6 THEN 'dup_words'
        |       WHEN top_bigram_frac > 0.08 THEN 'top_bigram'
        |       WHEN max_word_run > 2 THEN 'word_run' END AS r
        | FROM rm),
        |ls AS (
        | SELECT doc_id,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) AS de,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','and','of','to','is','in','that','it'))) AS en,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('el','la','de','que','y','en','los','es'))) AS es,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('le','la','de','et','les','des','est','une'))) AS fr
        | FROM documents),
        |lang AS (
        | SELECT doc_id,
        |  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |       WHEN fr = greatest(de, en, es, fr) THEN 'fr'
        |       WHEN es = greatest(de, en, es, fr) THEN 'es'
        |       WHEN en = greatest(de, en, es, fr) THEN 'en'
        |       ELSE 'de' END AS pred_lang
        | FROM ls),
        |perdoc AS (
        | SELECT d.doc_id, d.text,
        |  CASE WHEN qu.r IS NOT NULL THEN '1_quality'
        |       WHEN re.r IS NOT NULL THEN '2_repetition'
        |       WHEN la.pred_lang <> 'en' THEN '3_language' END AS stage
        | FROM documents d
        |  JOIN qual qu USING (doc_id)
        |  JOIN rep re USING (doc_id)
        |  JOIN lang la USING (doc_id)),
        |keep AS (
        | SELECT text, min(doc_id) AS kid
        | FROM perdoc WHERE stage IS NULL GROUP BY text),
        |staged AS (
        | SELECT p.doc_id,
        |  coalesce(p.stage,
        |    CASE WHEN p.doc_id <> k.kid THEN '4_exact_dup' END) AS stage
        | FROM perdoc p LEFT JOIN keep k ON p.text = k.text),
        |counts AS (
        | SELECT stage, CAST(count(*) AS BIGINT) AS n
        | FROM staged WHERE stage IS NOT NULL GROUP BY stage),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM staged),
        |stages AS (
        | SELECT unnest(['1_quality','2_repetition','3_language','4_exact_dup']) AS stage),
        |j AS (
        | SELECT s.stage, coalesce(c.n, 0) AS dropped
        | FROM stages s LEFT JOIN counts c USING (stage)),
        |r AS (
        | SELECT stage, dropped,
        |  total - CAST(coalesce(sum(dropped) OVER (
        |    ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS entering
        | FROM j, tot)
        |SELECT stage, entering, dropped,
        | entering - dropped AS surviving,
        | CASE WHEN entering > 0
        |      THEN round(CAST(dropped AS DOUBLE) / CAST(entering AS DOUBLE), 6)
        | END AS drop_rate
        |FROM r ORDER BY stage""".stripMargin)),
    // decontamination demo split: even doc_ids are the "training" corpus,
    // odd the held-out eval set
    QueryDef("q_decontaminate", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    },
      Some("""WITH w AS (
        | SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS words
        | FROM documents),
        |s AS (
        | SELECT doc_id,
        |  CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |       ELSE list_distinct(list_transform(range(len(words) - 2),
        |            i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])) END AS sh
        | FROM w),
        |p AS (
        | SELECT a.doc_id AS train_doc_id, b.doc_id AS eval_doc_id,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS j
        | FROM s a JOIN s b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
        |q AS (SELECT * FROM p WHERE j >= 0.5),
        |m AS (SELECT train_doc_id, max(j) AS mj, count(*) AS n_matches
        |      FROM q GROUP BY train_doc_id)
        |SELECT m.train_doc_id, min(q.eval_doc_id) AS matched_eval_doc,
        | round(m.mj, 12) AS jaccard, m.n_matches
        |FROM m JOIN q ON q.train_doc_id = m.train_doc_id AND q.j = m.mj
        |GROUP BY m.train_doc_id, m.mj, m.n_matches
        |ORDER BY m.train_doc_id""".stripMargin)),
    // corpus snapshot diff demo: "old" = docs with doc_id%3>0, "new" = docs
    // with doc_id%4>0 and every 7th doc's text revised — the deterministic
    // decoration mixes added/removed/changed (same demo pattern as the
    // receipts); unchanged rows dropped by the operator's default
    QueryDef("q_corpus_diff", (s, d) => {
      import org.apache.spark.sql.functions.{concat, lit}
      val docs = Tables.documents(s, d)
      Dedup.snapshotDiff(
        docs.where(col("doc_id") % 3 > 0),
        docs.where(col("doc_id") % 4 > 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))))
    },
      // snapshot diff: same demo decoration (old = %3>0, new = %4>0 with
      // every 7th text revised), md5 content compare, unchanged dropped
      Some("""WITH o_snap AS (
        | SELECT doc_id, md5(text) AS old_hash FROM documents WHERE doc_id % 3 > 0),
        |n_snap AS (
        | SELECT doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS new_hash
        | FROM documents WHERE doc_id % 4 > 0)
        |SELECT doc_id, old_hash, new_hash,
        | CASE WHEN old_hash IS NULL THEN 'added'
        |      WHEN new_hash IS NULL THEN 'removed'
        |      WHEN old_hash <> new_hash THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |FROM o_snap FULL OUTER JOIN n_snap USING (doc_id)
        |WHERE (CASE WHEN old_hash IS NULL THEN 'added'
        |      WHEN new_hash IS NULL THEN 'removed'
        |      WHEN old_hash <> new_hash THEN 'changed'
        |      ELSE 'unchanged' END) <> 'unchanged'
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q_dedup_embedding", (s, d) => Ann.embeddingNearDupPairs(Tables.embeddings(s, d)),
      None),
    // the cluster step over the embedding pair list (pairs → keep-one
    // groups) — same connected-components engine as q_dup_clusters
    QueryDef("q_dedup_embedding_clusters", (s, d) =>
      Dedup.dupClusters(Ann.embeddingNearDupPairs(Tables.embeddings(s, d))
        .select(org.apache.spark.sql.functions.col("vec_a").as("doc_a"),
          org.apache.spark.sql.functions.col("vec_b").as("doc_b"))), None),
    // SemDeDup: kmeans-cluster then in-cluster near-dup groups — rows-only
    // (kmeans is engine-specific; planted-cluster behavior spec'd in AnnSpec)
    // trained-artifact serve split, same doctrine as the _docs twin below:
    // k-means training is per-snapshot one-time, the key reports the
    // steady-state store read (deterministic training ⇒ identical frame)
    QueryDef("q_semantic_dedup", (s, d) => {
      val store = servedStore("semdedup_emb", d) { dir =>
        Ann.semanticDedup(Tables.embeddings(s, d))
          .write.mode("overwrite").parquet(dir)
      }
      s.read.parquet(store).orderBy("vec_id")
    }, None, storeBacked = true),
    // model-free text→vector bridge feeding the same SemDeDup machinery —
    // the full text-to-semantic-dedup path with no external embedding
    // model. The vector frame MUST be materialized (spread + checkpoint)
    // before the iterative consumer: left as a plan expression, the
    // O(tokens·dim) hashing HOF re-evaluates once per centroid per k-means
    // iteration (measured: 20+ min at sf0.1 vs ~8s materialized) — and the
    // single-file parquet read would pin all that on one task
    // TRAINING (k-means over the hashed-vector bridge) is a one-time cost
    // by the repo's doctrine (node2vec / graph_ann / BPE precedent): the
    // verdict frame memoizes to a parquet store per sfDir, and the key
    // reports the steady-state read — consumers of a SemDeDup verdict at
    // 100 TB read a maintained artifact, they don't retrain per query.
    // Bit-deterministic end-to-end (hashed vectors + deterministic
    // k-means) ⇒ identical store whichever call builds it.
    QueryDef("q_semantic_dedup_docs", (s, d) => {
      val store = servedStore("semdedup_docs", d) { dir =>
        Ann.semanticDedup(TextVectors.hashedVectors(Tables.documents(s, d))
            .repartition(col("vec_id")).localCheckpoint(true))
          .write.mode("overwrite").parquet(dir)
      }
      s.read.parquet(store).orderBy("vec_id")
    }, None, storeBacked = true),
    QueryDef("q_text_quality", (s, d) => TextMetrics.quality(Tables.documents(s, d)),
      Some("""SELECT doc_id, length(text) AS n_chars,
        | len(string_split(text, ' ')) AS n_words,
        | CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
        | CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |   / CAST(length(text) AS DOUBLE) AS punct_ratio,
        | CAST(len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS DOUBLE)
        |   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q_corpus_stats", (s, d) => TextMetrics.corpusStats(Tables.documents(s, d)),
      Some("""SELECT source, count(*) AS n_docs,
        | CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        | CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        | round(quantile_cont(CAST(length(text) AS DOUBLE), 0.5), 4) AS median_chars,
        | count(DISTINCT lang) AS n_langs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)),
    // type/token accounting per source: TTR + hapax share (32c3)
    QueryDef("q_lexical_diversity", (s, d) =>
      TextMetrics.lexicalDiversity(Tables.documents(s, d)),
      Some("""WITH tf AS (
        | SELECT source, term, CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT source,
        |        unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS term
        |       FROM documents) t
        | GROUP BY source, term)
        |SELECT source,
        | CAST(sum(tf) AS BIGINT) AS n_tokens,
        | CAST(count(*) AS BIGINT) AS n_types,
        | CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        | round(CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE), 12) AS ttr,
        | round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / CAST(count(*) AS DOUBLE), 12) AS hapax_ratio
        |FROM tf GROUP BY source ORDER BY source""".stripMargin)),
    // exact frequent terms by the two-pass Misra-Gries protocol: pass 1
    // sketches candidates (bounded shuffle), pass 2 recounts exactly
    QueryDef("q_heavy_terms", (s, d) => HeavyHitters.frequentTerms(Tables.documents(s, d)),
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |SELECT term, count(*) AS cnt FROM tok GROUP BY term
        |HAVING count(*) * 500 >= (SELECT count(*) FROM tok)
        |ORDER BY cnt DESC, term""".stripMargin)),
    // real BPE: train merges on a 200-doc sample (one-time cost, like
    // q_ann_ivf_trained), count tokens corpus-wide with the trained table
    QueryDef("q_bpe_tokens", (s, d) => {
      val docs = Tables.documents(s, d)
      TextMetrics.bpeTokenCounts(docs, TextMetrics.trainBpe(docs, numMerges = 12, samplePermille = 400))
    }, None),
    QueryDef("q_hash_sample", (s, d) =>
      Sampling.hashSample(Tables.documents(s, d), "doc_id", permille = 200)
        .select("doc_id", "source").orderBy("doc_id"),
      Some(s"""SELECT doc_id, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.operators.Sampling.cutoffHex(200)}'
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q_source_mix", (s, d) =>
      Sampling.sourceMix(Tables.documents(s, d), "source", "doc_id",
        Map("src0" -> 1000, "src1" -> 500, "src2" -> 250, "src3" -> 100))
        .select("doc_id", "source").orderBy("doc_id"),
      Some(s"""SELECT doc_id, source FROM documents
        |WHERE CASE source
        |  WHEN 'src0' THEN '${graft.operators.Sampling.cutoffHex(1000)}'
        |  WHEN 'src1' THEN '${graft.operators.Sampling.cutoffHex(500)}'
        |  WHEN 'src2' THEN '${graft.operators.Sampling.cutoffHex(250)}'
        |  WHEN 'src3' THEN '${graft.operators.Sampling.cutoffHex(100)}'
        |  END > substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q_stratified_split", (s, d) =>
      Sampling.stratifiedSplit(Tables.documents(s, d), "doc_id",
        valPermille = 100, testPermille = 100)
        .select("doc_id", "source", "split").orderBy("doc_id"),
      Some(s"""SELECT doc_id, source,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |        < '${graft.operators.Sampling.cutoffHex(100)}' THEN 'val'
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |        < '${graft.operators.Sampling.cutoffHex(200)}' THEN 'test'
        |      ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // split hygiene: exact-text leakage from train demotes the eval copy
    QueryDef("q_leakfree_split", (s, d) =>
      Sampling.leakFreeSplit(Tables.documents(s, d), "doc_id",
        testPermille = 200),
      Some(s"""WITH s AS (
        | SELECT doc_id, text,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${graft.operators.Sampling.cutoffHex(200)}' THEN 'test'
        |       ELSE 'train' END AS split
        | FROM documents),
        |g AS (
        | SELECT text, max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
        | FROM s GROUP BY text)
        |SELECT s.doc_id,
        | CASE WHEN s.split = 'test' AND g.has_train = 1 THEN 'test_leaked'
        |      ELSE s.split END AS split
        |FROM s JOIN g ON s.text = g.text
        |ORDER BY s.doc_id""".stripMargin)),
    // per-source document cap (the "no domain dominates" valve): ≤ 20 docs
    // per source, ranked by the shared md5 hash-order convention — the
    // DuckDB twin is the row_number window the operator deliberately
    // avoids (bounded heap + semi-join instead)
    QueryDef("q_source_cap", (s, d) =>
      Sampling.groupCap(Tables.documents(s, d), "source", "doc_id",
        cap = 20, salt = "cap")
        .select("doc_id", "text", "lang", "source", "n_chars").orderBy("doc_id"),
      // the row_number window the bounded-heap operator deliberately avoids —
      // an independent spelling of the same md5 hash-order cap
      Some("""SELECT doc_id, text, lang, source, n_chars FROM (
        | SELECT d.*, row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cap'), doc_id) AS rn
        | FROM documents d) t
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin)),
    // temperature mixture: per-source rates COMPUTED from observed counts
    // (mass ∝ sqrt(count), expected total = half the corpus) — α=0.5 keeps
    // the one floating step a correctly-rounded sqrt, so the DuckDB twin
    // reproduces the exact permille map and the exact sample
    QueryDef("q_temperature_mix", (s, d) => {
      val docs = Tables.documents(s, d)
      Sampling.temperatureMix(docs, "source", "doc_id", alpha = 0.5,
          targetRows = docs.count() / 2)
        .select("doc_id", "source").orderBy("doc_id")
    },
      // temperature mix: DuckDB recomputes the integer permille protocol —
      // 1e-6-grain floored sqrt weights, BigInt/HUGEINT floor division —
      // then applies the same md5 gate; LEAST caps oversubscribed sources
      Some("""WITH n AS (SELECT source, CAST(count(*) AS BIGINT) AS c
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(c) AS BIGINT) // 2 AS target FROM n),
        |w AS (SELECT source, c,
        |       CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS wt
        |      FROM n),
        |ww AS (SELECT CAST(sum(wt) AS HUGEINT) AS wsum FROM w),
        |pm AS (SELECT source,
        |        LEAST(1000, CAST((1000::HUGEINT * target * wt) // (wsum * c)
        |                    AS BIGINT)) AS permille
        |       FROM w, t, ww)
        |SELECT d.doc_id, d.source FROM documents d
        |JOIN pm ON d.source = pm.source
        |WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
        |  CASE WHEN permille >= 1000 THEN 'g'
        |       ELSE lower(lpad(to_hex(permille * 4294967), 8, '0')) END
        |ORDER BY d.doc_id""".stripMargin)),
    // exact-k twin of q_hash_sample: TakeOrderedAndProject, never a sort
    // weighted sample without replacement (Efraimidis–Spirakis priorities
    // from the md5-56 uniform; longer docs proportionally likelier)
    QueryDef("q_weighted_sample", (s, d) =>
      Sampling.weightedSample(Tables.documents(s, d)
          .select("doc_id", "n_chars"), "doc_id", "n_chars", k = 50),
      // weighted sample: same md5-56 uniform, same pow/round-12 protocol
      Some("""SELECT doc_id, n_chars,
        | round(pow((('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
        |            + 1.0) / 72057594037927936.0,
        |           1.0 / n_chars), 12) AS priority
        |FROM documents WHERE n_chars > 0
        |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin)),
    QueryDef("q_sample_topk", (s, d) =>
      Sampling.sampleExactK(Tables.documents(s, d), "doc_id", 100)
        .select("doc_id", "source"),
      Some("""SELECT doc_id, source FROM documents
        |ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
        |LIMIT 100""".stripMargin)),
    // epoch/repetition budget: 4 sources share a 1×-corpus token budget at
    // 400/150/50/10 permille — full passes capped at 3 epochs plus a
    // deterministic hash-gated fractional last pass (integer plan protocol,
    // re-derived exactly by the DuckDB twin)
    QueryDef("q_epoch_mix", (s, d) => {
      val docs = Tables.documents(s, d)
      val budget = docs.agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum("n_chars"),
          org.apache.spark.sql.functions.lit(0L)))
        .collect()(0).getLong(0) // 1-row driver aggregate (0 when empty)
      Sampling.epochMix(docs, "source", "doc_id", "n_chars",
          Map("src0" -> 400, "src1" -> 150, "src2" -> 50, "src3" -> 10),
          budgetTokens = budget, maxEpochs = 3)
        .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")
    },
      Some("""WITH n AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS c
        |           FROM documents GROUP BY source),
        |b AS (SELECT CAST(sum(n_chars) AS BIGINT) AS budget FROM documents),
        |w AS (SELECT * FROM (VALUES ('src0', 400), ('src1', 150),
        |                            ('src2', 50), ('src3', 10)) AS t(source, wp)),
        |tgt AS (SELECT n.source, n.c,
        |         CAST(CAST(b.budget AS HUGEINT) * wp // 1000 AS BIGINT) AS target
        |        FROM n JOIN w USING (source), b),
        |plan AS (SELECT source, c,
        |          LEAST(3, CAST(target // c AS BIGINT)) AS full_epochs,
        |          CASE WHEN target // c >= 3 THEN 0
        |               ELSE LEAST(1000, CAST((1000::HUGEINT * (target - (target // c) * c)) // c
        |                          AS BIGINT)) END AS residual
        |         FROM tgt)
        |SELECT d.doc_id, d.source, CAST(u.epoch AS BIGINT) AS epoch
        |FROM documents d
        |JOIN plan p ON d.source = p.source,
        |     unnest(generate_series(0, p.full_epochs)) AS u(epoch)
        |WHERE u.epoch < p.full_epochs
        |   OR substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) <
        |      CASE WHEN p.residual >= 1000 THEN 'g'
        |           ELSE lower(lpad(to_hex(p.residual * 4294967), 8, '0')) END
        |ORDER BY d.doc_id, epoch""".stripMargin)),
    // quality-ranked token-budget selection: keep the best-score prefix
    // that fits half the corpus's whitespace tokens (budget from a 1-row
    // driver aggregate; the running total is the two-phase distributed
    // scan, never an unpartitioned window)
    QueryDef("q_budget_select", (s, d) => {
      val docs = Tables.documents(s, d)
      val budget = docs.agg(org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.size(
              org.apache.spark.sql.functions.split(col("text"), " ")).cast("long")),
          org.apache.spark.sql.functions.lit(0L)))
        .collect()(0).getLong(0) / 2
      Sampling.budgetSelect(docs, budget)
    },
      // epoch budget: HUGEINT re-derivation of the integer plan (targets,
      // capped full epochs, residual permille), then lateral unnest over the
      // epoch range with the md5 gate on the fractional last pass
      // quality-ranked budget cut: rank by round12(stopword − punct), keep
      // while the running ws-token total fits half the corpus; SUM casts pin
      // DuckDB's HUGEINT back to BIGINT so dtypes match the Spark side
      Some("""WITH m AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
        |   round(CAST(len(list_filter(string_split(text, ' '),
        |           w -> w = 'the' OR w = 'a')) AS DOUBLE)
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE)
        |     - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
        |       / CAST(length(text) AS DOUBLE), 12) AS score
        |  FROM documents),
        |b AS (SELECT CAST(COALESCE(SUM(n_tok), 0) // 2 AS BIGINT) AS budget FROM m),
        |r AS (SELECT doc_id, n_tok, score,
        |       CAST(SUM(n_tok) OVER (ORDER BY score DESC, doc_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM m)
        |SELECT doc_id, n_tok, score, cum AS cum_tokens, cum <= b.budget AS keep
        |FROM r, b ORDER BY doc_id""".stripMargin)),
    // pretraining sequence packing: concat-and-split layout offsets via the
    // two-phase distributed prefix sum (bucket totals -> literal bases ->
    // per-bucket windows)
    QueryDef("q_seq_pack", (s, d) => Packing.packLayout(Tables.documents(s, d)),
      Some("""WITH t AS (
        | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |o AS (
        | SELECT doc_id, n_tok,
        |  CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        | FROM t)
        |SELECT doc_id, n_tok, tok_offset,
        | CAST(tok_offset // 512 AS BIGINT) AS start_seq,
        | CAST((tok_offset + n_tok - 1) // 512 AS BIGINT) AS end_seq
        |FROM o ORDER BY doc_id""".stripMargin)),
    QueryDef("q_seq_fanin", (s, d) => Packing.seqFanIn(Tables.documents(s, d)),
      Some("""WITH t AS (
        | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        | FROM documents),
        |o AS (
        | SELECT doc_id, n_tok,
        |  CAST(coalesce(sum(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
        | FROM t),
        |sp AS (
        | SELECT unnest(generate_series(tok_offset // 512, (tok_offset + n_tok - 1) // 512)) AS seq
        | FROM o)
        |SELECT CAST(seq AS BIGINT) AS seq, count(*) AS n_docs
        |FROM sp GROUP BY seq ORDER BY seq""".stripMargin)),
    // deterministic shuffled-shard layout (the writer's assignment +
    // within-shard order, fully engine-reproducible)
    QueryDef("q_shard_layout", (s, d) =>
      Packing.shardAssign(Tables.documents(s, d).select("doc_id"), "doc_id", 8)
        .select(col("doc_id"), col("shard"), col("shuffle_key"))
        .orderBy("shard", "shuffle_key", "doc_id"),
      // shard = 56 bits of md5(key ∥ '|shard|') mod 8; within-shard order =
      // the full hash — the writer's exact deterministic layout
      Some("""SELECT doc_id,
        | CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|shard|'), 1, 14))::BIGINT
        |      % 8 AS INT) AS shard,
        | md5(CAST(doc_id AS VARCHAR) || '|shard|') AS shuffle_key
        |FROM documents ORDER BY shard, shuffle_key, doc_id""".stripMargin)),
    QueryDef("q_repetition", (s, d) => TextMetrics.repetition(Tables.documents(s, d)),
      // the repetition twin derives the top-bigram count via per-doc
      // grouping where the Spark side uses a sorted-array fold — same number
      Some("""WITH words AS (
        | SELECT doc_id, ws[pos] AS w, pos
        | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
        |      LATERAL (SELECT unnest(generate_series(1, len(d.ws))) AS pos) g),
        |runs AS (
        | SELECT doc_id, w,
        |  pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS grp
        | FROM words),
        |run_lens AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
        | FROM runs GROUP BY doc_id, w, grp),
        |bigrams AS (
        | SELECT doc_id, bg FROM (
        |  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        |  FROM words) x WHERE bg IS NOT NULL),
        |bg_counts AS (
        | SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
        | FROM bigrams GROUP BY doc_id, bg),
        |agg AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
        | FROM words GROUP BY doc_id)
        |SELECT a.doc_id, a.n_words,
        | round(1.0 - CAST(a.n_distinct AS DOUBLE)/a.n_words, 6) AS dup_word_frac,
        | (SELECT max(run_len) FROM run_lens r WHERE r.doc_id=a.doc_id) AS max_word_run,
        | round(CAST((SELECT max(c) FROM bg_counts b WHERE b.doc_id=a.doc_id) AS DOUBLE)
        |       / nullif(a.n_words - 1, 0), 6) AS top_bigram_frac
        |FROM agg a ORDER BY a.doc_id""".stripMargin)),
    QueryDef("q_repetition_filter", (s, d) => TextMetrics.repetitionFilter(Tables.documents(s, d)),
      Some("""WITH words AS (
        | SELECT doc_id, ws[pos] AS w, pos
        | FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
        |      LATERAL (SELECT unnest(generate_series(1, len(d.ws))) AS pos) g),
        |runs AS (
        | SELECT doc_id, w,
        |  pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos) AS grp
        | FROM words),
        |run_lens AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
        | FROM runs GROUP BY doc_id, w, grp),
        |bigrams AS (
        | SELECT doc_id, bg FROM (
        |  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
        |  FROM words) x WHERE bg IS NOT NULL),
        |bg_counts AS (
        | SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
        | FROM bigrams GROUP BY doc_id, bg),
        |m AS (
        | SELECT a.doc_id,
        |  round(1.0 - CAST(a.n_distinct AS DOUBLE)/a.n_words, 6) AS dup_word_frac,
        |  (SELECT max(run_len) FROM run_lens r WHERE r.doc_id=a.doc_id) AS max_word_run,
        |  round(CAST((SELECT max(c) FROM bg_counts b WHERE b.doc_id=a.doc_id) AS DOUBLE)
        |        / nullif(a.n_words - 1, 0), 6) AS top_bigram_frac
        | FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |        CAST(count(DISTINCT w) AS BIGINT) AS n_distinct
        |       FROM words GROUP BY doc_id) a),
        |d AS (
        | SELECT doc_id,
        |  CASE WHEN dup_word_frac > 0.6 THEN 'dup_words'
        |       WHEN top_bigram_frac > 0.08 THEN 'top_bigram'
        |       WHEN max_word_run > 2 THEN 'word_run' END AS r
        | FROM m)
        |SELECT doc_id, r IS NULL AS keep, coalesce(r, 'ok') AS reason
        |FROM d ORDER BY doc_id""".stripMargin)),
    // the testdata ships no PII, so the scrub demo decorates the corpus
    // with deterministic doc_id-derived emails/phones/IPs — identically in
    // the SQL twin (same pattern as the demo receipts)
    QueryDef("q_pii_scan", (s, d) => Pii.scan(Demo.decoratedDocs(Tables.documents(s, d))),
      Some(s"""WITH deco AS ($decoSql)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, '\\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        | CAST(len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        | len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+'))
        |  + len(regexp_extract_all(text, '\\+1-[0-9]{3}-[0-9]{4}'))
        |  + len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) > 0 AS has_pii
        |FROM deco ORDER BY doc_id""".stripMargin)),
    QueryDef("q_pii_redact", (s, d) => Pii.redact(Demo.decoratedDocs(Tables.documents(s, d))),
      Some(s"""WITH deco AS ($decoSql)
        |SELECT doc_id,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   '[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'),
        |   '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |   '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM deco ORDER BY doc_id""".stripMargin)),
    // C4-style domain curation over URL-decorated docs (same demo pattern)
    QueryDef("q_url_domains", (s, d) => UrlOps.extractDomains(Demo.urlDocs(Tables.documents(s, d))),
      Some(s"""WITH deco AS ($urlDecoSql)
        |SELECT doc_id, unnest(regexp_extract_all(text, 'https?://([a-z0-9.-]+)', 1)) AS domain
        |FROM deco ORDER BY doc_id, domain""".stripMargin)),
    QueryDef("q_domain_filter", (s, d) =>
      UrlOps.domainFilter(Demo.urlDocs(Tables.documents(s, d)), Seq("ads.badsite.net")),
      Some(s"""WITH deco AS ($urlDecoSql),
        |f AS (SELECT doc_id,
        |  list_filter(regexp_extract_all(text, 'https?://([a-z0-9.-]+)', 1),
        |    d -> d = 'ads.badsite.net' OR ends_with(d, '.ads.badsite.net')) AS b
        | FROM deco)
        |SELECT doc_id, len(b) = 0 AS keep, coalesce(b[1], 'ok') AS reason
        |FROM f ORDER BY doc_id""".stripMargin)),
    QueryDef("q_token_count", (s, d) => TextMetrics.tokenCounts(Tables.documents(s, d)),
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        | len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    QueryDef("q_tfidf", (s, d) => TextMetrics.tfidfTopTerms(Tables.documents(s, d)),
      // scores rounded to 12 decimals BEFORE ranking on both sides: libm ln
      // may differ in the last ulp, and an unrounded rank could then select a
      // different boundary row (see TextMetrics.tfidfTopTerms)
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT doc_id, term, tf,
        |        round(tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 12) AS score
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER
        |        (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |      FROM s)
        |SELECT doc_id, term, tf, score FROM r WHERE rn <= 5
        |ORDER BY doc_id, score DESC, term""".stripMargin)),
    // trigram novelty: the share of each doc's distinct 3-grams appearing
    // in no other document (fresh-content score; 56-bit md5 gram keys)
    QueryDef("q_novelty", (s, d) => TextMetrics.noveltyScore(Tables.documents(s, d)),
      // 56-bit md5 gram keys (the dataset-checksum hash convention), DISTINCT
      // per doc on the HASHED value so a collision collapses identically
      Some("""WITH base AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |       FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |       ('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 14))::BIGINT AS g
        |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |            FROM base WHERE len(toks) >= 3) z),
        |df AS (SELECT g, count(*) AS df FROM g GROUP BY 1),
        |s AS (SELECT doc_id, count(*) AS n_shingles,
        |       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        |      FROM g JOIN df USING (g) GROUP BY doc_id)
        |SELECT b.doc_id, COALESCE(s.n_shingles, 0) AS n_shingles,
        | COALESCE(s.n_novel, 0) AS n_novel,
        | CASE WHEN s.n_shingles > 0
        |   THEN round(CAST(s.n_novel AS DOUBLE) / s.n_shingles, 12) END AS novelty
        |FROM base b LEFT JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // asymmetric n-gram containment pairs (partial copies / quotes the
    // symmetric Jaccard family misses)
    QueryDef("q_containment", (s, d) => Dedup.containmentPairs(Tables.documents(s, d)),
      Some("""WITH base AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |       FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |       ('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 14))::BIGINT AS g
        |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |            FROM base WHERE len(toks) >= 3) z),
        |sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
        |pc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |       FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared, sa.sz AS size_a, sb.sz AS size_b,
        | round(CAST(shared AS DOUBLE) / sa.sz, 12) AS containment_a,
        | round(CAST(shared AS DOUBLE) / sb.sz, 12) AS containment_b
        |FROM pc JOIN sz sa ON pc.doc_a = sa.doc_id
        | JOIN sz sb ON pc.doc_b = sb.doc_id
        |WHERE containment_a >= 0.5 OR containment_b >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),
    // pair-set agreement between the two exact near-dup detectors (the
    // dedup side of q_retrieval_agreement): how much of the symmetric
    // Jaccard signal does asymmetric containment capture and vice versa
    // — both legs are the EXISTING oracle-checked operators, so the
    // report is fully oracle-checkable
    // Both pair lists are MAINTAINED ARTIFACTS at scale (the
    // q_canonical_docs_served precedent: detectors run once per corpus
    // snapshot, diagnostics read the stored pair sets) — so the key
    // builds both legs once under the servedStore memo and the agreement
    // fold itself is a ≤|pairs|-row full-outer join over stored keys.
    // Same oracle: the stored rows are exactly the detectors' output.
    QueryDef("q_dedup_signal_overlap", (s, d) => {
      val store = servedStore("dup_pairs", d) { dir =>
        val docs = Tables.documents(s, d)
        Dedup.ngramJaccardPairs(docs)
          .write.mode("overwrite").parquet(s"$dir/jaccard")
        Dedup.containmentPairs(docs)
          .write.mode("overwrite").parquet(s"$dir/containment")
      }
      Dedup.pairSetMetrics(
        s.read.parquet(s"$store/jaccard"),
        s.read.parquet(s"$store/containment"))
    },
      // containment: the oracle runs the UNCAPPED inverted-gram brute force
      // over the same 56-bit md5 gram keys (the operator's dfCap must be
      // vacuous on the gate — demo max df is single-digit)
      // the agreement report re-derives BOTH pair sets with the two legs'
      // own oracle spellings (the q_ngram_jaccard w/s CTEs + the
      // q_containment base/g/sz/pc CTEs compose into one WITH)
      Some("""WITH w AS (
        | SELECT doc_id, source, list_filter(string_split(text, ' '), x -> len(x) > 0) AS words
        | FROM documents),
        |s AS (
        | SELECT doc_id, source,
        |  CASE WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
        |       ELSE list_distinct(list_transform(range(len(words) - 2),
        |            i -> words[i+1] || ' ' || words[i+2] || ' ' || words[i+3])) END AS sh
        | FROM w),
        |ja AS (
        | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        | FROM s a JOIN s b ON a.doc_id < b.doc_id AND a.source = b.source
        | WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.02),
        |base AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |       FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |       ('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 14))::BIGINT AS g
        |      FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |            FROM base WHERE len(toks) >= 3) z),
        |sz AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY 1),
        |pc AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |       FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |co AS (
        | SELECT doc_a, doc_b
        | FROM pc JOIN sz sa ON pc.doc_a = sa.doc_id
        |  JOIN sz sb ON pc.doc_b = sb.doc_id
        | WHERE round(CAST(shared AS DOUBLE) / sa.sz, 12) >= 0.5
        |    OR round(CAST(shared AS DOUBLE) / sb.sz, 12) >= 0.5),
        |fj AS (SELECT COALESCE(ja.doc_a, co.doc_a) AS doc_a,
        |        ja.doc_a AS a_a, co.doc_a AS c_a
        |       FROM ja FULL OUTER JOIN co
        |         ON ja.doc_a = co.doc_a AND ja.doc_b = co.doc_b),
        |ag AS (SELECT count(a_a) AS n_a, count(c_a) AS n_b,
        |        count(CASE WHEN a_a IS NOT NULL AND c_a IS NOT NULL THEN 1 END) AS n_common
        |       FROM fj)
        |SELECT n_a, n_b, n_common,
        | CASE WHEN n_a + n_b - n_common > 0
        |      THEN round(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 12)
        | END AS jaccard,
        | CASE WHEN n_a > 0 THEN round(CAST(n_common AS DOUBLE) / n_a, 12) END AS share_a_in_b,
        | CASE WHEN n_b > 0 THEN round(CAST(n_common AS DOUBLE) / n_b, 12) END AS share_b_in_a
        |FROM ag""".stripMargin), storeBacked = true),
    // entity-resolution near-dup part names: brand-blocked candidates,
    // exact levenshtein verification
    QueryDef("q_entity_pairs", (s, d) =>
      Dedup.editDistancePairs(Tables.part(s, d), "p_partkey", "p_name", "p_brand"),
      // entity pairs: DuckDB's independent levenshtein implementation must
      // agree with Spark's on every verified pair (same unit-cost DP spec)
      Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        | a.p_name AS text_a, b.p_name AS text_b,
        | levenshtein(a.p_name, b.p_name) AS dist
        |FROM part a JOIN part b
        | ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY key_a, key_b""".stripMargin)),
    // per-doc Shannon entropy (word + char) — the degenerate-text signal
    QueryDef("q_entropy", (s, d) => TextMetrics.entropy(Tables.documents(s, d)),
      // entropy: counts recomputed via GROUP BY (independent of the kernel's
      // sorted-run walk); per-term 12-dp rounds + decimal sums make the score
      // a function of the count MULTISET, so the two derivations must agree
      Some("""WITH wtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |              FROM documents),
        |wcnt AS (SELECT doc_id, count(*) AS c FROM wtok GROUP BY doc_id, w),
        |wagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(sum(CAST(round(c * ln(c), 12) AS DECIMAL(28,12))) AS DOUBLE) AS st
        |        FROM wcnt GROUP BY 1),
        |cch AS (SELECT doc_id, substring(text, i, 1) AS ch
        |        FROM (SELECT doc_id, text,
        |              unnest(generate_series(1, length(text))) AS i FROM documents)),
        |ccnt AS (SELECT doc_id, count(*) AS c FROM cch GROUP BY doc_id, ch),
        |cagg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |        CAST(sum(CAST(round(c * ln(c), 12) AS DECIMAL(28,12))) AS DOUBLE) AS st
        |        FROM ccnt GROUP BY 1)
        |SELECT d.doc_id, COALESCE(w.n, 0) AS n_words,
        | CASE WHEN w.n > 0 THEN round(round(ln(w.n), 12) - w.st / w.n, 12) END
        |   AS word_entropy,
        | COALESCE(c.n, 0) AS n_chars,
        | CASE WHEN c.n > 0 THEN round(round(ln(c.n), 12) - c.st / c.n, 12) END
        |   AS char_entropy
        |FROM documents d LEFT JOIN wagg w USING (doc_id)
        | LEFT JOIN cagg c USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // deflate-ratio redundancy signal — rows-only (zlib byte counts are
    // library-specific; the band semantics are spec'd on shaped docs)
    QueryDef("q_compression_ratio", (s, d) =>
      TextMetrics.compressionRatio(Tables.documents(s, d)), None),
    // canonicalization pass (case/control/whitespace) ahead of exact dedup
    QueryDef("q_text_normalize", (s, d) =>
      TextMetrics.normalizeText(Tables.documents(s, d))
        .select("doc_id", "norm_text", "changed").orderBy("doc_id"),
      // normalization: full normalized TEXT compared byte-for-byte (the
      // pii_redact precedent); same portable regexes, 'g' for global
      Some(("""SELECT doc_id,
        | trim(regexp_replace(regexp_replace(lower(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
        | trim(regexp_replace(regexp_replace(lower(text),
        |      '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) <> text AS changed
        |FROM documents ORDER BY doc_id""").stripMargin)),
    // cross-source 3-gram overlap matrix (contamination/provenance view)
    QueryDef("q_source_overlap", (s, d) =>
      TextMetrics.sourceNgramOverlap(Tables.documents(s, d)),
      Some("""WITH base AS (SELECT source,
        |        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |       FROM documents),
        |sg AS (SELECT DISTINCT source,
        |       ('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 14))::BIGINT AS g
        |      FROM (SELECT source, toks, unnest(generate_series(1, len(toks) - 2)) AS i
        |            FROM base WHERE len(toks) >= 3) z)
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
        |FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // order-independent corpus fingerprint (the release checksum a data
    // contract pins); 1-row global aggregate
    QueryDef("q_dataset_checksum", (s, d) =>
      Integrity.datasetChecksum(Tables.documents(s, d),
        Seq("doc_id", "text", "lang", "source", "n_chars")),
      // order-independent checksum: same md5-14-hex-long per row, summed in
      // HUGEINT and folded mod 2^64 — emitted as VARCHAR on both sides.
      // Per-column COALESCE('') mirrors the Spark side's null discipline
      // (NULL ≡ ""), and the SUM coalesces so the empty corpus is "0" on
      // both sides
      Some("""SELECT count(*) AS n_rows,
        | CAST(COALESCE(SUM(CAST(('0x' || substring(md5(
        |    COALESCE(CAST(doc_id AS VARCHAR), '') || '|' || COALESCE(text, '') || '|'
        |    || COALESCE(lang, '') || '|' || COALESCE(source, '') || '|'
        |    || COALESCE(CAST(n_chars AS VARCHAR), '')), 1, 14))::BIGINT AS HUGEINT)),
        |   CAST(0 AS HUGEINT))
        |   % CAST('18446744073709551616' AS HUGEINT) AS VARCHAR) AS checksum
        |FROM documents""".stripMargin)),
    // trainable corpus gate: seed labels probe a token's presence; the
    // classifier learns the corresponding hash-space direction (iterative
    // sigmoid training → engine-specific → rows-only, spec'd instead)
    QueryDef("q_quality_clf", (s, d) => {
      // trained-artifact serve split (the semdedup_docs/node2vec
      // precedent): the 25-round GD training is a ONE-TIME cost per
      // corpus snapshot — a deployment scores documents against stored
      // weights, it does not retrain per query. Training is
      // bit-deterministic per sfDir, so the served frame is identical
      // whichever call builds it; the rows-only parity spec is untouched.
      val store = servedStore("quality_clf", d) { dir =>
        val docs = Tables.documents(s, d)
        val labels = docs.select(col("doc_id"),
          when(array_contains(split(col("text"), " "), "dup"), 0.0d)
            .otherwise(1.0d).as("label"))
        QualityClassifier.classifyDocuments(docs, labels)
          .write.mode("overwrite").parquet(dir)
      }
      s.read.parquet(store).orderBy("doc_id")
    }, None, storeBacked = true),
    QueryDef("q_unigram_logprob", (s, d) => TextMetrics.unigramLogProb(Tables.documents(s, d)),
      // per-token terms rounded to 12 dp then summed EXACTLY as decimal —
      // a double mean sums in engine-specific order and can cross the final
      // rounding boundary (observed)
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
        |total AS (SELECT count(*) AS t FROM tok)
        |SELECT doc_id,
        | round(CAST(SUM(CAST(round(ln(CAST(total.t AS DOUBLE))
        |   - ln(CAST(freq.cnt AS DOUBLE)), 12) AS DECIMAL(28,14))) AS DOUBLE)
        |  / count(*), 12) AS surprisal,
        | count(*) AS n_tokens
        |FROM tok JOIN freq USING (term) CROSS JOIN total
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // DSIR demo split: odd doc_ids are the target-domain sample, even
    // doc_ids are the raw corpus being scored (the decontaminate split)
    QueryDef("q_dsir_weights", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextMetrics.importanceWeights(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
    },
      Some("""WITH rtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |              FROM documents WHERE doc_id % 2 = 0),
        |ttok AS (SELECT unnest(string_split(text, ' ')) AS term
        |         FROM documents WHERE doc_id % 2 = 1),
        |rcnt AS (SELECT term, CAST(count(*) AS BIGINT) AS rc FROM rtok GROUP BY 1),
        |tcnt AS (SELECT term, CAST(count(*) AS BIGINT) AS tc FROM ttok GROUP BY 1),
        |vocab AS (
        | SELECT coalesce(r.term, t.term) AS term,
        |  coalesce(r.rc, 0) AS rc, coalesce(t.tc, 0) AS tc
        | FROM rcnt r FULL OUTER JOIN tcnt t ON r.term = t.term),
        |tot AS (
        | SELECT CAST(sum(rc) AS BIGINT) AS tr, CAST(sum(tc) AS BIGINT) AS tt,
        |  CAST(count(*) AS BIGINT) AS v
        | FROM vocab),
        |w AS (
        | SELECT term,
        |  CAST(round(ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE))
        |     - ln(CAST(rc + 1 AS DOUBLE) / CAST(tr + v AS DOUBLE)), 12)
        |   AS DECIMAL(28,14)) AS lw
        | FROM vocab CROSS JOIN tot)
        |SELECT doc_id,
        | round(CAST(sum(lw) AS DOUBLE) / count(*), 12) AS imp_weight,
        | count(*) AS n_tokens
        |FROM rtok JOIN w USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // snapshot drift: same parity split as q_dsir_weights — per-source PSI
    // over the n_chars length profile between the two halves
    QueryDef("q_corpus_drift", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Profiler.psiDrift(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1),
        valueCol = "n_chars", groupCol = "source")
    },
      // Laplace-smoothed PSI over the FULL grp×bucket grid (absent buckets
      // still carry a term); integral // bucketing, per-term round-12,
      // DECIMAL(28,14) term sums — the psiDrift parity contract
      Some("""WITH o AS (SELECT source AS grp,
        |            least(greatest(n_chars // 200, 0), 9) AS bucket
        |           FROM documents WHERE doc_id % 2 = 0),
        |n AS (SELECT source AS grp,
        |       least(greatest(n_chars // 200, 0), 9) AS bucket
        |      FROM documents WHERE doc_id % 2 = 1),
        |oc AS (SELECT grp, bucket, count(*) AS c_old FROM o GROUP BY 1, 2),
        |nc AS (SELECT grp, bucket, count(*) AS c_new FROM n GROUP BY 1, 2),
        |grps AS (SELECT grp FROM oc UNION SELECT grp FROM nc),
        |grid AS (SELECT g.grp, r.range AS bucket
        |         FROM grps g CROSS JOIN range(10) r),
        |cell AS (SELECT g.grp, g.bucket,
        |          coalesce(oc.c_old, 0) AS c_old,
        |          coalesce(nc.c_new, 0) AS c_new
        |         FROM grid g
        |         LEFT JOIN oc ON oc.grp = g.grp AND oc.bucket = g.bucket
        |         LEFT JOIN nc ON nc.grp = g.grp AND nc.bucket = g.bucket),
        |tots AS (SELECT grp, CAST(sum(c_old) AS BIGINT) AS tot_old,
        |          CAST(sum(c_new) AS BIGINT) AS tot_new
        |         FROM cell GROUP BY 1)
        |SELECT c.grp AS source,
        | round(CAST(sum(CAST(round(
        |   (CAST(c.c_old + 1 AS DOUBLE) / CAST(t.tot_old + 10 AS DOUBLE)
        |    - CAST(c.c_new + 1 AS DOUBLE) / CAST(t.tot_new + 10 AS DOUBLE))
        |   * ln((CAST(c.c_old + 1 AS DOUBLE) / CAST(t.tot_old + 10 AS DOUBLE))
        |      / (CAST(c.c_new + 1 AS DOUBLE) / CAST(t.tot_new + 10 AS DOUBLE))),
        |   12) AS DECIMAL(28,14))) AS DOUBLE), 12) AS psi,
        | t.tot_old AS n_old, t.tot_new AS n_new
        |FROM cell c JOIN tots t ON t.grp = c.grp
        |GROUP BY c.grp, t.tot_old, t.tot_new
        |ORDER BY source""".stripMargin)),
    // bucketing-free KS sup-distance over the same length profile —
    // stride-20 split so every source populates BOTH sides (the parity
    // split degenerates: doc_id ≡ source (mod 20) in the testdata)
    QueryDef("q_ks_drift", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      val docs = Tables.documents(s, d)
      Profiler.ksDrift(
        docs.where(expr("(doc_id div 20) % 2") === 0),
        docs.where(expr("(doc_id div 20) % 2") === 1),
        valueCol = "n_chars", groupCol = "source")
    },
      // KS: rational sup-distance — exact decimal(38,0) cross-products of
      // cumulative counts, ONE double division of the max, round-12 (the
      // burstiness no-large-round rule); one-sided groups NULL
      Some("""WITH oc AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v, count(*) AS c_old
        |            FROM documents WHERE (doc_id // 20) % 2 = 0 GROUP BY 1, 2),
        |nc AS (SELECT source AS grp, CAST(n_chars AS BIGINT) AS v, count(*) AS c_new
        |       FROM documents WHERE (doc_id // 20) % 2 = 1 GROUP BY 1, 2),
        |cell AS (SELECT coalesce(oc.grp, nc.grp) AS grp, coalesce(oc.v, nc.v) AS v,
        |          coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
        |         FROM oc FULL OUTER JOIN nc ON oc.grp = nc.grp AND oc.v = nc.v),
        |sc AS (SELECT grp, v, c_old, c_new,
        |        sum(c_old) OVER w AS cum_old, sum(c_new) OVER w AS cum_new
        |       FROM cell
        |       WINDOW w AS (PARTITION BY grp ORDER BY v
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tots AS (SELECT grp, CAST(sum(c_old) AS BIGINT) AS n_old,
        |          CAST(sum(c_new) AS BIGINT) AS n_new
        |         FROM cell GROUP BY grp),
        |d AS (SELECT sc.grp, n_old, n_new,
        |       abs(CAST(cum_old AS DECIMAL(38,0)) * CAST(n_new AS DECIMAL(38,0))
        |         - CAST(cum_new AS DECIMAL(38,0)) * CAST(n_old AS DECIMAL(38,0))) AS diff
        |      FROM sc JOIN tots ON sc.grp = tots.grp)
        |SELECT grp AS source,
        | CASE WHEN n_old > 0 AND n_new > 0
        |      THEN round(CAST(max(diff) AS DOUBLE)
        |        / CAST(CAST(n_old AS DECIMAL(38,0)) * CAST(n_new AS DECIMAL(38,0)) AS DOUBLE), 12)
        | END AS ks,
        | n_old, n_new
        |FROM d GROUP BY grp, n_old, n_new ORDER BY source""".stripMargin)),
    QueryDef("q_bigram_logprob", (s, d) => TextMetrics.bigramLogProb(Tables.documents(s, d)),
      // 1.0 - 0.9 is spelled as the SUBTRACTION on both sides: the IEEE
      // result (0.09999999999999998) differs from the literal 0.1 by an ulp
      Some("""WITH base AS (SELECT doc_id,
        |        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |      FROM documents),
        |tok AS (SELECT unnest(toks) AS term FROM base),
        |tot AS (SELECT count(*) AS t FROM tok),
        |uni AS (SELECT term, count(*) AS cu FROM tok GROUP BY 1),
        |big AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM
        |        (SELECT doc_id, toks,
        |           unnest(generate_series(1, len(toks) - 1)) AS i
        |         FROM base WHERE len(toks) >= 2) z),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
        |s AS (SELECT big.doc_id,
        |       round(-ln(CAST(0.9 AS DOUBLE) * c12.c12 / c1.c1
        |                 + (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))
        |                   * uni.cu / CAST(tot.t AS DOUBLE)), 12)
        |         AS term
        |      FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        |      JOIN uni ON uni.term = big.w2 CROSS JOIN tot)
        |SELECT doc_id,
        | round(CAST(SUM(CAST(term AS DECIMAL(28,14))) AS DOUBLE) / count(*), 12)
        |   AS surprisal2,
        | count(*) AS n_bigrams
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    QueryDef("q_chunk", (s, d) => TextMetrics.chunk(Tables.documents(s, d)),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS nw FROM w),
        |c AS (SELECT doc_id, ws,
        |       unnest(generate_series(0,
        |         greatest(CAST(ceil((nw - 8) / 56.0) AS BIGINT), 1) - 1)) AS i
        |      FROM n)
        |SELECT doc_id, i AS chunk_idx,
        | array_to_string(ws[(i*56+1):(i*56+64)], ' ') AS chunk_text,
        | len(ws[(i*56+1):(i*56+64)]) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),
    // rank-frequency shape per source: OLS slope over the top-100 terms
    QueryDef("q_zipf_slope", (s, d) => TextMetrics.zipfSlope(Tables.documents(s, d)),
      // ln values round-12 then recover exactly as decimal(16,12); all
      // cross-products multiply and sum in exact decimal; only the O(1)
      // slope rounds a combined double
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |c AS (SELECT source, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |r AS (SELECT source, cnt,
        |       row_number() OVER (PARTITION BY source
        |                          ORDER BY cnt DESC, term) AS rank
        |      FROM c QUALIFY rank <= 100),
        |p AS (SELECT source,
        |       CAST(round(ln(CAST(rank AS DOUBLE)), 12) AS DECIMAL(16,12)) AS x,
        |       CAST(round(ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(16,12)) AS y
        |      FROM r),
        |a AS (SELECT source, count(*) AS n_terms,
        |       sum(x) AS sx, sum(y) AS sy,
        |       sum(x * y) AS sxy, sum(x * x) AS sxx
        |      FROM p GROUP BY 1)
        |SELECT source, n_terms,
        | CASE WHEN CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |      THEN round((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
        |                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |                 / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
        |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 12)
        | END AS zipf_slope
        |FROM a ORDER BY source""".stripMargin)),
    QueryDef("q_lang_id", (s, d) => TextMetrics.langId(Tables.documents(s, d)),
      Some("""WITH s AS (
        | SELECT doc_id,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) AS de,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('the','and','of','to','is','in','that','it'))) AS en,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('el','la','de','que','y','en','los','es'))) AS es,
        |  len(list_filter(string_split(lower(text), ' '),
        |      w -> w IN ('le','la','de','et','les','des','est','une'))) AS fr
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |      WHEN fr = greatest(de, en, es, fr) THEN 'fr'
        |      WHEN es = greatest(de, en, es, fr) THEN 'es'
        |      WHEN en = greatest(de, en, es, fr) THEN 'en'
        |      ELSE 'de' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin)),
    // code-switching detector: 32-token windows voted per chunk, per-doc
    // mode + mix rollup
    QueryDef("q_language_mix", (s, d) => TextMetrics.languageMix(Tables.documents(s, d)),
      // the q_chunk window spelling at 32/0 + the q_lang_id vote per window
      // + a mode rollup (identified langs outrank 'und', ties to lex MIN)
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS nw FROM w),
        |c AS (SELECT doc_id, ws,
        |       unnest(generate_series(0,
        |         greatest(CAST(ceil(nw / 32.0) AS BIGINT), 1) - 1)) AS i
        |      FROM n),
        |ch AS (SELECT doc_id, i,
        |        string_split(
        |          lower(array_to_string(ws[(i*32+1):(i*32+32)], ' ')), ' ') AS cw
        |       FROM c),
        |s AS (SELECT doc_id, i,
        |  len(list_filter(cw, w -> w IN ('der','die','und','das','ist','nicht','ein','zu'))) AS de,
        |  len(list_filter(cw, w -> w IN ('the','and','of','to','is','in','that','it'))) AS en,
        |  len(list_filter(cw, w -> w IN ('el','la','de','que','y','en','los','es'))) AS es,
        |  len(list_filter(cw, w -> w IN ('le','la','de','et','les','des','est','une'))) AS fr
        | FROM ch),
        |pred AS (SELECT doc_id,
        |  CASE WHEN greatest(de, en, es, fr) = 0 THEN 'und'
        |       WHEN fr = greatest(de, en, es, fr) THEN 'fr'
        |       WHEN es = greatest(de, en, es, fr) THEN 'es'
        |       WHEN en = greatest(de, en, es, fr) THEN 'en'
        |       ELSE 'de' END AS lang
        | FROM s),
        |cnts AS (SELECT doc_id, lang, count(*) AS cnt FROM pred GROUP BY 1, 2),
        |roll AS (SELECT doc_id,
        |  CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN lang <> 'und' THEN cnt ELSE 0 END) AS BIGINT) AS n_lang_chunks,
        |  CAST(count(CASE WHEN lang <> 'und' THEN 1 END) AS BIGINT) AS n_langs
        | FROM cnts GROUP BY 1),
        |prim AS (SELECT doc_id, lang AS primary_lang, cnt AS pc FROM (
        |  SELECT doc_id, lang, cnt,
        |   row_number() OVER (PARTITION BY doc_id
        |     ORDER BY (lang = 'und'), cnt DESC, lang) AS rn
        |  FROM cnts) t WHERE rn = 1)
        |SELECT r.doc_id, r.n_chunks, r.n_langs, p.primary_lang,
        | CASE WHEN r.n_lang_chunks > 0
        |      THEN round(1 - CAST(p.pc AS DOUBLE) / r.n_lang_chunks, 12)
        | END AS mix_ratio
        |FROM roll r JOIN prim p USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q_fingerprint", (s, d) => TextMetrics.fingerprint(Tables.documents(s, d)), None),
    QueryDef("q_winnow", (s, d) => TextMetrics.winnowExploded(Tables.documents(s, d)), None)
  )
}
