package graft
package keys

import org.apache.spark.sql.functions.col
import graft.operators._
import Shared._

/** Retrieval over documents and embeddings (SURVEY §2, LLM-data
  * pipeline): ANN indexes, kNN graphs, BM25 and the served text
  * indexes, hybrid fusion and reranking.
  */
object retrieval {

  /** The two ranked legs (bmr: BM25 rank rk_a; dr: dense-cosine rank
    * rk_b) as a shared CTE prefix — the hybrid RRF oracle and the
    * ranking-agreement oracle both consume exactly these rankings.
    */
  private val HybridLegsCte: String =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT count(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS tot FROM docs),
        |tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM docs),
        |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tok
        |       WHERE term IN ('dup', 'spark', 'merge') GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |s AS (SELECT tf.doc_id,
        |        round(ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
        |              * (tf.tf * CAST(1.2 + 1.0 AS DOUBLE))
        |              / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl
        |                                / (CAST(n.tot AS DOUBLE) / n.n))), 12)
        |          AS term_score
        |      FROM tf JOIN df USING (term) CROSS JOIN n),
        |bm AS (SELECT doc_id,
        |        round(CAST(SUM(CAST(term_score AS DECIMAL(28,14))) AS DOUBLE), 12)
        |          AS score
        |       FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
        |bmr AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS rk_a FROM bm),
        |nv AS (SELECT vec_id, embedding,
        |        sqrt(CAST(list_sum(list_transform(list_zip(embedding, embedding),
        |             x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)
        |                  AS DECIMAL(28,18)))) AS DOUBLE)) AS nrm
        |       FROM embeddings),
        |q AS (SELECT * FROM nv WHERE vec_id = 0 AND nrm > 0),
        |base AS (SELECT * FROM nv WHERE vec_id <> 0 AND nrm > 0),
        |sc AS (SELECT b.vec_id AS doc_id,
        |        round(CAST(list_sum(list_transform(list_zip(q.embedding, b.embedding),
        |             x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)
        |                  AS DECIMAL(28,18)))) AS DOUBLE)
        |          / (q.nrm * b.nrm), 12) AS cosine
        |       FROM base b, q),
        |dr AS (SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rk_b
        |       FROM sc QUALIFY rk_b <= 20)""".stripMargin

  /** Shared hybrid-retrieval oracle - `q_hybrid_search` (ad-hoc legs)
    * and `q_hybrid_search_served` (both legs from stored indexes) must
    * both reproduce it exactly: same BM25 scores, same full-probe dense
    * ranking, same RRF fold.
    */
  private val HybridOracleSql: String = HybridLegsCte +
    """
        |SELECT doc_id, rk_a, rk_b,
        | CAST(COALESCE(CAST(round(1.0/(60 + rk_a), 12) AS DECIMAL(16,12)), 0)
        |    + COALESCE(CAST(round(1.0/(60 + rk_b), 12) AS DECIMAL(16,12)), 0)
        |   AS DOUBLE) AS rrf
        |FROM bmr FULL OUTER JOIN dr USING (doc_id)
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  /** Ranking-agreement oracle over the SAME two legs. */
  private val RetrievalAgreementOracleSql: String = HybridLegsCte +
    """,
        |fj AS (SELECT rk_a, rk_b FROM bmr FULL OUTER JOIN dr USING (doc_id)),
        |ag AS (SELECT count(rk_a) AS n_a, count(rk_b) AS n_b,
        |   count(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL THEN 1 END) AS n_overlap,
        |   CAST(sum(CASE WHEN rk_a IS NOT NULL AND rk_b IS NOT NULL
        |            THEN abs(rk_a - rk_b) END) AS BIGINT) AS footrule,
        |   min(CASE WHEN rk_a = 1 THEN rk_b END) AS rank_in_b_of_a_top1
        | FROM fj)
        |SELECT CAST(20 AS BIGINT) AS k, n_a, n_b, n_overlap,
        | CASE WHEN n_a + n_b - n_overlap > 0
        |      THEN round(CAST(n_overlap AS DOUBLE) / (n_a + n_b - n_overlap), 12)
        | END AS jaccard,
        | footrule,
        | CASE WHEN n_overlap > 0
        |      THEN round(CAST(footrule AS DOUBLE) / n_overlap, 12)
        | END AS mean_rank_shift,
        | rank_in_b_of_a_top1
        |FROM ag""".stripMargin

  /** MMR-rerank oracle: the SAME greedy selection [[Retrieval.mmrRerank]]
    * runs (k=5, λ=0.7 over the dense leg's top-12), UNROLLED as five
    * chained single-row CTEs — step i picks argmax of
    * round(0.7·rel̂ − (1−0.7)·max sim-to-selected, 12) with doc_id
    * tie-breaks. Every ingredient (cosine scores, rel̂ normalization, the
    * pairwise sims, the step scores) rounds to 12 dp on BOTH engines, and
    * the 1−λ constant is forced through DOUBLE arithmetic so it equals the
    * JVM's 1.0−0.7 bit pattern (a DECIMAL 0.3 literal would not).
    */
  private val MmrOracleSql: String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val mu = s"(CAST(1.0 AS DOUBLE) - $lam)"
    def step(i: Int): String = {
      val prev = s"p${i - 1}"
      s"""s$i AS (SELECT r.doc_id,
         |   round($lam*r.reln - $mu *
         |     (SELECT max(s.sim) FROM sims s
         |      WHERE s.da = r.doc_id AND s.db IN (SELECT doc_id FROM $prev)), 12) AS ms
         | FROM rel r WHERE r.doc_id NOT IN (SELECT doc_id FROM $prev)
         | ORDER BY ms DESC, r.doc_id LIMIT 1),
         |p$i AS (SELECT doc_id FROM $prev UNION ALL SELECT doc_id FROM s$i)""".stripMargin
    }
    """WITH nv AS (SELECT vec_id, embedding,
      |    sqrt(CAST(list_sum(list_transform(list_zip(embedding, embedding),
      |         x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)
      |              AS DECIMAL(28,18)))) AS DOUBLE)) AS nrm
      |   FROM embeddings),
      |q AS (SELECT * FROM nv WHERE vec_id = 0 AND nrm > 0),
      |base AS (SELECT * FROM nv WHERE vec_id <> 0 AND nrm > 0),
      |sc AS (SELECT b.vec_id AS doc_id,
      |    round(CAST(list_sum(list_transform(list_zip(q.embedding, b.embedding),
      |         x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)
      |              AS DECIMAL(28,18)))) AS DOUBLE) / (q.nrm * b.nrm), 12) AS score
      |   FROM base b, q),
      |cand AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 12),
      |mm AS (SELECT min(score) AS mn, max(score) AS mx FROM cand),
      |rel AS (SELECT c.doc_id,
      |    CASE WHEN m.mx = m.mn THEN CAST(1.0 AS DOUBLE)
      |         ELSE round((c.score - m.mn) / (m.mx - m.mn), 12) END AS reln
      |   FROM cand c, mm m),
      |ce AS (SELECT c.doc_id, v.embedding, v.nrm FROM cand c JOIN nv v ON v.vec_id = c.doc_id),
      |sims AS (SELECT a.doc_id AS da, b.doc_id AS db,
      |    round(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |         x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE)
      |              AS DECIMAL(28,18)))) AS DOUBLE) / (a.nrm * b.nrm), 12) AS sim
      |   FROM ce a JOIN ce b ON a.doc_id <> b.doc_id),
      |""".stripMargin +
      s"""s1 AS (SELECT doc_id, round($lam*reln, 12) AS ms FROM rel
         | ORDER BY ms DESC, doc_id LIMIT 1),
         |p1 AS (SELECT doc_id FROM s1),
         |""".stripMargin +
      (2 to 5).map(step).mkString(",\n").stripMargin + "\n" +
      (1 to 5).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, doc_id, ms AS mmr_score FROM s$i")
        .mkString("", "\nUNION ALL ", "\nORDER BY rank")
  }

  /** Shared BM25 oracle — `q_bm25` (one-shot) and `q_bm25_index` (served
    * from the posting-list store) must both reproduce it exactly.
    */
  private val Bm25OracleSql =
    """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |n AS (SELECT count(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS tot FROM docs),
      |tok AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM docs),
      |tf AS (SELECT doc_id, term, count(*) AS tf, max(dl) AS dl FROM tok
      |       WHERE term IN ('dup', 'spark', 'merge') GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |s AS (SELECT tf.doc_id,
      |        round(ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
      |              * (tf.tf * CAST(1.2 + 1.0 AS DOUBLE))
      |              / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl
      |                                / (CAST(n.tot AS DOUBLE) / n.n))), 12)
      |          AS term_score
      |      FROM tf JOIN df USING (term) CROSS JOIN n)
      |SELECT doc_id,
      |  round(CAST(SUM(CAST(term_score AS DECIMAL(28,14))) AS DOUBLE), 12) AS score,
      |  count(*) AS matched_terms
      |FROM s GROUP BY doc_id
      |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_ann_cosine", (s, d) => Ann.bruteForceTopK(Tables.embeddings(s, d)),
      Some("""WITH n AS (
        | SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(list_zip(embedding, embedding),
        |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)) AS nrm
        | FROM embeddings
        |), q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 5),
        |b AS (SELECT vec_id AS nid, embedding AS ne, nrm AS nn FROM n WHERE vec_id >= 5),
        |scored AS (
        | SELECT qid, nid,
        |  round(CAST(list_sum(list_transform(list_zip(qe, ne),
        |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)
        |   / (qn * nn), 12) AS cosine
        | FROM b, q
        |)
        |SELECT qid, nid, cosine, rk FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk FROM scored) t
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),
    // representation-space triage: centroid-distance z-scores (rows-only —
    // float artifact; AnnSpec gates planted-outlier recall + determinism)
    QueryDef("q_embedding_outliers", (s, d) => Ann.outlierScores(Tables.embeddings(s, d)), None),
    // per-dim z-standardization of the embedding corpus — the first
    // oracle-checked vector transform (decimal-moment protocol, mirrored
    // IEEE scalar tail, round-12 z)
    // embedding-distribution drift between the parity snapshots, grouped
    // by a derived source — "did the mean vector walk": exact quantized
    // per-dim sums, one sqrt + one division per group (49f)
    QueryDef("q_embedding_drift", (s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"),
        (col("vec_id") % 3).as("src"))
      Ann.embeddingDrift(e.where(col("vec_id") % 2 === 0),
        e.where(col("vec_id") % 2 === 1), "src")
    },
      // standardization on the exact integer protocol: xq = floor(x·2^20)
      // (exact in double for floats), integer moments, z from the exact
      // discriminant via one double cast + IEEE sqrt, round-12; σ=0 NULL
      Some("""WITH ex AS (
        | SELECT vec_id % 3 AS src, vec_id % 2 AS par, CAST(i - 1 AS BIGINT) AS dim,
        |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS xq
        | FROM (SELECT vec_id, embedding FROM embeddings) e,
        |      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g),
        |o AS (SELECT src, dim, CAST(count(*) AS BIGINT) AS n_old,
        |       CAST(sum(xq) AS BIGINT) AS s_old FROM ex WHERE par = 0 GROUP BY 1, 2),
        |nn AS (SELECT src, dim, CAST(count(*) AS BIGINT) AS n_new,
        |       CAST(sum(xq) AS BIGINT) AS s_new FROM ex WHERE par = 1 GROUP BY 1, 2),
        |cell AS (
        | SELECT COALESCE(o.src, nn.src) AS src, COALESCE(o.dim, nn.dim) AS dim,
        |  n_old, s_old, n_new, s_new,
        |  CAST(CAST(s_new AS DECIMAL(38,0)) * CAST(n_old AS DECIMAL(38,0))
        |     - CAST(s_old AS DECIMAL(38,0)) * CAST(n_new AS DECIMAL(38,0))
        |    AS DECIMAL(19,0)) AS dnum
        | FROM o FULL OUTER JOIN nn ON o.src = nn.src AND o.dim = nn.dim),
        |top AS (
        | SELECT src, dim AS top_shift_dim FROM (
        |  SELECT src, dim,
        |   row_number() OVER (PARTITION BY src ORDER BY abs(dnum) DESC, dim) AS rk
        |  FROM cell WHERE dnum IS NOT NULL) t WHERE rk = 1)
        |SELECT c.src, max(n_old) AS n_old, max(n_new) AS n_new,
        | CASE WHEN max(n_old) IS NOT NULL AND max(n_new) IS NOT NULL THEN
        |  round(sqrt(CAST(sum(dnum * dnum) AS DOUBLE))
        |    / CAST(CAST(max(n_old) AS DECIMAL(38,0))
        |         * CAST(max(n_new) AS DECIMAL(38,0)) * 1048576 AS DOUBLE), 12)
        | END AS shift_l2,
        | CASE WHEN max(n_old) IS NOT NULL AND max(n_new) IS NOT NULL
        |      THEN max(top.top_shift_dim) END AS top_shift_dim
        |FROM cell c LEFT JOIN top ON c.src = top.src
        |GROUP BY c.src ORDER BY c.src""".stripMargin)),
    QueryDef("q_embedding_standardize", (s, d) =>
      Ann.standardizeEmbeddings(Tables.embeddings(s, d)),
      Some("""WITH ex AS (
        | SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
        |  CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576.0) AS BIGINT) AS xq
        | FROM (SELECT vec_id, embedding FROM embeddings) e,
        |      LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g),
        |st AS (
        | SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(xq) AS BIGINT) AS s1,
        |  CAST(sum(CAST(xq AS DECIMAL(38,0)) * CAST(xq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s2
        | FROM ex GROUP BY dim)
        |SELECT vec_id, ex.dim,
        | CASE WHEN CAST(CAST(n AS DECIMAL(38,0)) * s2
        |        - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)) AS DOUBLE) > 0
        |      THEN round(
        |        CAST(CAST(n AS DECIMAL(38,0)) * CAST(xq AS DECIMAL(38,0))
        |          - CAST(s1 AS DECIMAL(38,0)) AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * s2
        |          - CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)) AS DOUBLE)), 12)
        | END AS z
        |FROM ex JOIN st ON ex.dim = st.dim
        |ORDER BY vec_id, ex.dim""".stripMargin)),
    QueryDef("q_ann_lsh", (s, d) => Ann.lshTopK(Tables.embeddings(s, d)), None),
    QueryDef("q_ann_lsh_multiprobe", (s, d) => Ann.lshTopKMultiprobe(Tables.embeddings(s, d)),
      None),
    QueryDef("q_ann_ivf", (s, d) => Ann.ivfTopK(Tables.embeddings(s, d)), None),
    // train + query in one call: the k-means cost is real but ONE-TIME at
    // scale (centroids are a stored index); benched separately so the
    // steady-state ivf query stays comparable round-over-round
    QueryDef("q_ann_ivf_trained", (s, d) => Ann.ivfTopK(Tables.embeddings(s, d), kmeansIters = 2),
      None),
    // the compressed-index ANN leg: PQ codes + ADC lookups (train+encode+
    // score in one call — training is the labeled one-time cost, like
    // q_ann_ivf_trained)
    QueryDef("q_ann_pq", (s, d) => Pq.pqTopK(Tables.embeddings(s, d), iters = 3), None),
    QueryDef("q_ann_ivfpq", (s, d) => Pq.ivfPqTopK(Tables.embeddings(s, d), iters = 3), None),
    QueryDef("q_ann_ivfpq_res", (s, d) => Pq.ivfPqResidualTopK(Tables.embeddings(s, d), iters = 3),
      None),
    // 8-bit scalar-quantized exhaustive ANN — the SQ point of the
    // compression family (rows-only like the PQ legs; recall spec'd)
    QueryDef("q_ann_sq8", (s, d) => Pq.sq8TopK(Tables.embeddings(s, d)), None),
    // exact kNN GRAPH over a capped node set: every node's top-5 among all
    // others — brute force IS the semantics here (oracle-checked all-pairs);
    // the LSH twin below is the full-corpus scale path (rows-only)
    QueryDef("q_knn_graph", (s, d) => Ann.knnGraph(Tables.embeddings(s, d), k = 5, maxId = 300L),
      // exact kNN graph: the same decimal-dot + 12-dp convention as
      // q_ann_cosine, all-pairs over the capped node set, qid <> nid
      Some("""WITH n AS (
        | SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(list_zip(embedding, embedding),
        |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)) AS nrm
        | FROM embeddings WHERE vec_id < 300
        |), nz AS (SELECT * FROM n WHERE nrm > 0),
        |scored AS (
        | SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)
        |   / (a.nrm * b.nrm), 12) AS cosine
        | FROM nz a, nz b WHERE a.vec_id <> b.vec_id
        |)
        |SELECT qid, nid, cosine, rk FROM (
        | SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk FROM scored) t
        |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)),
    // label propagation over the kNN graph: every 25th vector's planted
    // label seeds the rest — oracle-checked (r8): the kNN edges follow the
    // q_knn_graph decimal-dot spelling, the 5 vote rounds unroll as CTEs
    // (cluster recovery accuracy additionally spec'd in AnnSpec)
    QueryDef("q_label_prop", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Ann.labelPropagation(emb,
        emb.where(col("vec_id") % 25 === 0)
          .select(col("vec_id"), col("label").cast("string").as("label")),
        k = 5, iters = 5, maxId = 300L)
    },
      // label propagation over the kNN graph: the q_knn_graph edge spelling
      // + 5 unrolled vote/winner/update rounds (the trust_communities
      // precedent). Votes are exact ints; the row_number (nv DESC, nbr) pick
      // is the SQL spelling of the operator's min(struct(-nv, nbr)) argmax;
      // seed clamping is the same coalesce(seed, win, prev) ladder
      Some({
      val rounds = (1 to 5).map { r =>
        val p = r - 1
        s"""|,
            |v$r AS (SELECT e.qid, l.label AS nbr, count(*) AS nv
            |        FROM edges e JOIN l$p l ON l.vec_id = e.nid
            |        WHERE l.label IS NOT NULL GROUP BY 1, 2),
            |w$r AS (SELECT qid AS vec_id, nbr AS win FROM (
            |         SELECT qid, nbr,
            |          row_number() OVER (PARTITION BY qid ORDER BY nv DESC, nbr) AS rk
            |         FROM v$r) t WHERE rk = 1),
            |l$r AS (SELECT l.vec_id, l.seed_label,
            |         coalesce(l.seed_label, w.win, l.label) AS label
            |        FROM l$p l LEFT JOIN w$r w USING (vec_id))""".stripMargin
      }.mkString
      s"""WITH n AS (
         | SELECT vec_id, embedding,
         |  sqrt(CAST(list_sum(list_transform(list_zip(embedding, embedding),
         |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)) AS nrm
         | FROM embeddings WHERE vec_id < 300
         |), nz AS (SELECT * FROM n WHERE nrm > 0),
         |scored AS (
         | SELECT a.vec_id AS qid, b.vec_id AS nid,
         |  round(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
         |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)
         |   / (a.nrm * b.nrm), 12) AS cosine
         | FROM nz a, nz b WHERE a.vec_id <> b.vec_id
         |),
         |edges AS (
         | SELECT qid, nid FROM (
         |  SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk
         |  FROM scored) t WHERE rk <= 5),
         |seeds AS (SELECT vec_id, min(CAST(label AS VARCHAR)) AS seed_label
         |          FROM embeddings WHERE vec_id % 25 = 0 GROUP BY vec_id),
         |nodes AS (SELECT DISTINCT qid AS vec_id FROM edges),
         |l0 AS (SELECT n.vec_id, s.seed_label, s.seed_label AS label
         |       FROM nodes n LEFT JOIN seeds s USING (vec_id))$rounds
         |SELECT vec_id, label, seed_label IS NOT NULL AS is_seed
         |FROM l5 ORDER BY vec_id""".stripMargin
    })),
    // contrastive mining: per-anchor positives (cosine ≥ τ) + hardest
    // negatives (top-k below τ) — (anchor, pos, neg) triplet feed; τ=0.4
    // sits inside the demo corpus's cosine range so BOTH roles populate
    // (max pair cosine at sf0.01 is ~0.46)
    QueryDef("q_contrastive_pairs", (s, d) =>
      Ann.contrastivePairs(Tables.embeddings(s, d), k = 5, tau = 0.4, maxId = 300L),
      // contrastive mining: the knn-graph decimal-dot scored frame split by
      // the τ band, each role ranked per anchor (an independent window
      // spelling of the operator's bounded-heap top-k)
      Some("""WITH n AS (
        | SELECT vec_id, embedding,
        |  sqrt(CAST(list_sum(list_transform(list_zip(embedding, embedding),
        |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)) AS nrm
        | FROM embeddings WHERE vec_id < 300
        |), nz AS (SELECT * FROM n WHERE nrm > 0),
        |scored AS (
        | SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  round(CAST(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |       x -> CAST(CAST(x[1] AS DOUBLE)*CAST(x[2] AS DOUBLE) AS DECIMAL(28,18)))) AS DOUBLE)
        |   / (a.nrm * b.nrm), 12) AS cosine
        | FROM nz a, nz b WHERE a.vec_id <> b.vec_id
        |),
        |pos AS (SELECT qid, nid, cosine,
        |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk
        |        FROM scored WHERE cosine >= 0.4 QUALIFY rk <= 5),
        |neg AS (SELECT qid, nid, cosine,
        |         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rk
        |        FROM scored WHERE cosine < 0.4 QUALIFY rk <= 5)
        |SELECT qid, nid, cosine, rk, 'pos' AS role FROM pos
        |UNION ALL
        |SELECT qid, nid, cosine, rk, 'neg' AS role FROM neg
        |ORDER BY qid, role, rk""".stripMargin)),
    QueryDef("q_knn_graph_lsh", (s, d) => Ann.knnGraphLsh(Tables.embeddings(s, d)), None),
    // JL random projection feeding the exact scorer: project 64 -> 16 dims
    // map-side (seeded ±1/√m sign matrix as plan literals), then brute-force
    // top-k over the SHORT vectors — the project-once-then-search bridge.
    // rows-only (float matrix products are engine-specific); distortion and
    // determinism spec'd in AnnSpec
    QueryDef("q_rp_ann", (s, d) =>
      Ann.bruteForceTopK(Ann.randomProject(Tables.embeddings(s, d))
        .select(col("vec_id"), col("rp").as("embedding"))), None),
    // greedy k-center diversity sample over the embedding corpus — the
    // coverage complement of dedup; rows-only (cosine argmin sequences are
    // engine-specific; cluster coverage + monotonicity spec'd in AnnSpec)
    QueryDef("q_kcenter_sample", (s, d) =>
      Ann.kCenterSample(Tables.embeddings(s, d), k = 16), None),
    QueryDef("q_bm25", (s, d) =>
      TextMetrics.bm25TopK(Tables.documents(s, d), Seq("dup", "spark", "merge")),
      // BM25: the arithmetic mirrors TextMetrics.bm25TopK operation-for-
      // operation (k1+1 and 1−b spelled as the same source expressions, the
      // (b·dl)/avgdl association kept) so the doubles agree bit-for-bit up to
      // the ln last-ulp, which the 12-dp round absorbs; per-term scores sum
      // exactly as decimal per the parity rulebook
      Some(Bm25OracleSql)),
    // hybrid retrieval: BM25 leg ⊕ exact-cosine dense leg fused by
    // reciprocal-rank fusion — both legs rank on 12-dp-rounded scores, so
    // the fused ordering is oracle-checkable end-to-end
    QueryDef("q_hybrid_search", (s, d) =>
      Retrieval.hybridSearch(Tables.documents(s, d), Tables.embeddings(s, d),
        Seq("dup", "spark", "merge"), queryVecId = 0L, legK = 20),
      // hybrid RRF: both leg spellings are the existing independent oracles
      // (BM25 CTE chain, decimal-dot cosine), fused by the same
      // 1/(60+rank) decimal protocol as the operator
      Some(HybridOracleSql)),
    // ranking-agreement diagnostics between the SAME two legs the hybrid
    // fuses: overlap/jaccard of the top-20 sets, Spearman's footrule +
    // mean rank shift on the shared docs, and where the dense leg puts
    // the lexical winner — the "how complementary are my legs" report a
    // hybrid deployment watches
    QueryDef("q_retrieval_agreement", (s, d) =>
      Retrieval.rankingAgreement(
        Retrieval.bm25Leg(Tables.documents(s, d), Seq("dup", "spark", "merge"), 20),
        Retrieval.denseLeg(Tables.embeddings(s, d), 0L, 20), k = 20),
      Some(RetrievalAgreementOracleSql)),
    // MMR diversity rerank of the dense leg's top-12 (k=5, λ=0.7): greedy
    // relevance-vs-redundancy selection, every intermediate 12-dp-rounded
    // with doc_id tie-breaks — the DuckDB twin unrolls the same 5 greedy
    // steps over the same decimal-dot cosines, so even this iterative
    // reranker is hash-checked cross-engine
    QueryDef("q_mmr_rerank", (s, d) => {
      val emb = Tables.embeddings(s, d)
      Retrieval.mmrRerank(Retrieval.denseLegScored(emb, 0L, 12), emb,
        k = 5, lambda = 0.7)
    },
      Some(MmrOracleSql)),
    // the production-shaped hybrid: BOTH legs served from write-once
    // stores — BM25 from the inverted index (32g2), the dense leg from
    // the stored IVF index (29c) at FULL probe width (nprobe =
    // numCentroids ⇒ no pruning loss, so its ranking equals the exact
    // cosine leg's: same dotDecimal round-12 scores, same tie-break) —
    // under the SAME RRF oracle as the ad-hoc q_hybrid_search
    QueryDef("q_hybrid_search_served", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.row_number
      val tdir = servedStore("text-index", d)(
        TextIndex.buildTextIndex(Tables.documents(s, d), _))
      val ivfDir = servedStore("ivf", d) { dir =>
        // numQueries = 1: vec 0 is the query by the hybrid contract —
        // excluded from the lists exactly as denseLeg excludes it
        Ann.buildIvfIndex(Tables.embeddings(s, d), dir,
          numCentroids = 16, numQueries = 1)
      }
      val bmLeg = TextIndex.bm25FromIndex(s, tdir,
          Seq("dup", "spark", "merge"), topK = 20)
        // unpartitioned window over the ≤20-row leg artifact — the
        // Retrieval.bm25Leg by-construction-legal exception
        .withColumn("rk", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rk"))
      val dLeg = Ann.ivfTopKFromIndex(
          Tables.embeddings(s, d).where(col("vec_id") === 0L),
          ivfDir, nprobe = 16, k = 20)
        .select(col("nid").as("doc_id"), col("rk"))
      Retrieval.rrfFuse(bmLeg, dLeg)
    },
      Some(HybridOracleSql), storeBacked = true),
    // the same retrieval served FROM the write-once inverted index:
    // build + query in one call (the build is the labeled one-time cost,
    // like q_ann_ivf_trained) — must reproduce q_bm25's oracle exactly
    QueryDef("q_bm25_index", (s, d) => {
      // ONE write-once index serves bm25/phrase/proximity (a deployment
      // builds it once, every query reads pruned postings): the memo makes
      // the bench report that steady-state read, build = one-time cost
      val dir = servedStore("text-index", d)(
        TextIndex.buildTextIndex(Tables.documents(s, d), _))
      TextIndex.bm25FromIndex(s, dir, Seq("dup", "spark", "merge"))
    },
      // the index-served twin scores IDENTICALLY (same tf/df/dl/stats by
      // construction) — the one oracle covers both spellings independently
      Some(Bm25OracleSql), storeBacked = true),
    // exact-phrase retrieval from the positional index (the token-level
    // occurrence count, overlaps included) — oracle = DuckDB's lateral
    // positional scan over the same tokenization
    QueryDef("q_phrase_search", (s, d) => {
      val dir = servedStore("text-index", d)(
        TextIndex.buildTextIndex(Tables.documents(s, d), _))
      TextIndex.phraseDocsFromIndex(s, dir, Seq("scan", "filter"))
    },
      // positional-intersection phrase match == a lateral scan over adjacent
      // token pairs (token-level counts, overlaps included)
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM d, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS p) g
        |WHERE toks[p] = 'scan' AND toks[p + 1] = 'filter'
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin), storeBacked = true),
    // unordered NEAR query (slop window 5) from the same positional index
    QueryDef("q_proximity_search", (s, d) => {
      val dir = servedStore("text-index", d)(
        TextIndex.buildTextIndex(Tables.documents(s, d), _))
      TextIndex.proximityDocsFromIndex(s, dir, "scan", "filter", window = 5)
    },
      // positional NEAR: |p−q| ≤ window pair count over the same tokenization
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |pa AS (SELECT doc_id, p FROM d,
        |       LATERAL (SELECT unnest(generate_series(1, len(toks))) AS p) g
        |       WHERE toks[p] = 'scan'),
        |pb AS (SELECT doc_id, p AS q FROM d,
        |       LATERAL (SELECT unnest(generate_series(1, len(toks))) AS p) g
        |       WHERE toks[p] = 'filter')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pa JOIN pb USING (doc_id)
        |WHERE abs(pa.p - q) <= 5
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin), storeBacked = true),
    // Lucene-style BOOLEAN query from the same index: must-ALL(scan,
    // filter) AND-NOT(dup), ranked by distinct should-matches (merge,
    // window) — exact set semantics, oracle = DuckDB set algebra over the
    // same tokenization
    QueryDef("q_bool_search", (s, d) => {
      val dir = servedStore("text-index", d)(
        TextIndex.buildTextIndex(Tables.documents(s, d), _))
      TextIndex.booleanDocsFromIndex(s, dir,
        must = Seq("scan", "filter"), should = Seq("merge", "window"),
        mustNot = Seq("dup"))
    },
      // boolean query: must-ALL(scan, filter) AND-NOT(dup), n_should =
      // distinct should-term matches (merge, window) — pure set algebra over
      // the same whitespace tokenization
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |t AS (SELECT doc_id, unnest(toks) AS term FROM d),
        |td AS (SELECT DISTINCT doc_id, term FROM t),
        |m AS (SELECT doc_id FROM td WHERE term IN ('scan', 'filter')
        |      GROUP BY doc_id HAVING count(*) = 2),
        |x AS (SELECT DISTINCT doc_id FROM td WHERE term = 'dup'),
        |sh AS (SELECT doc_id, count(*) AS ns FROM td
        |       WHERE term IN ('merge', 'window') GROUP BY doc_id)
        |SELECT m.doc_id, CAST(COALESCE(sh.ns, 0) AS BIGINT) AS n_should
        |FROM m LEFT JOIN sh USING (doc_id)
        |WHERE m.doc_id NOT IN (SELECT doc_id FROM x)
        |ORDER BY n_should DESC, doc_id""".stripMargin), storeBacked = true)
  )
}
