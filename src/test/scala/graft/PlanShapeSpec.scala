package graft

import graft.operators.Retrieval

/** Plan-shape regression guards for flagship queries: the properties that
  * make these run at 100 TB (dimension broadcasts, partial aggregation,
  * scan-level filter/column pushdown, no nested-loop fallbacks) asserted
  * against the ACTUAL physical plan at sf0.001, so a refactor that silently
  * trades a broadcast for a shuffle — or widens a scan to all columns —
  * fails a test instead of a cluster budget. (Per-operator shape notes live
  * in SURVEY §5 and the "Plan audit" records in BENCH_NOTES.md;
  * `Explain <sfDir> <key…>` dumps any key's plan.)
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(key: String): String =
    SparkEntry.queries(key)(spark, sf).queryExecution.executedPlan.toString

  /** The plan AFTER one execution — AQE only materializes its final plan
    * (and the WholeStageCodegen spans) once the query has run.
    */
  private def finalPlanOf(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sf)
    df.collect() // finalize THIS QueryExecution's adaptive plan (sf0.001: tiny)
    df.queryExecution.executedPlan.toString
  }

  test("q5 star join: dimensions broadcast, no nested-loop/cartesian fallback") {
    val plan = planOf("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected the dimension legs to broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop fallback crept into the star join:\n$plan")
  }

  test("q1 pricing summary: map-side partial aggregation + codegen") {
    val plan = finalPlanOf("q1_pricing_summary")
    // partial + final HashAggregate pair: the map-side combine that makes
    // a 100 TB groupBy shuffle group-cardinality, not row-cardinality
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"partial aggregation lost:\n$plan")
    // whole-stage-codegen spans print as `*(n)` stage markers in the tree
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).nonEmpty, s"codegen lost:\n$plan")
  }

  test("q3: the dimension filter pushes into the parquet scan") {
    val plan = planOf("q3_shipping_priority")
    val pushed = "PushedFilters: \\[[^\\]]+\\]".r.findAllIn(plan).toSeq
    assert(pushed.exists(p => p.length > "PushedFilters: []".length),
      s"no non-empty PushedFilters in any scan:\n$plan")
  }

  test("map-only text metrics prune the documents scan to the used columns") {
    val plan = planOf("q_token_count")
    val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty)
    // token counting needs doc_id + text; reading `source`/`lang`/`n_chars`
    // would mean column pruning broke and every scan pays full row width
    assert(readSchemas.forall(s => !s.contains("source") && !s.contains("lang")),
      s"unused columns in the scan:\n${readSchemas.mkString("\n")}")
  }

  test("exact dedup keeps the single-shuffle partial-agg shape") {
    val plan = planOf("q_dedup_exact")
    assert("Exchange".r.findAllIn(plan).length <= 2, // agg shuffle (+ sort for output order)
      s"exact dedup grew extra shuffles:\n$plan")
  }

  test("groupCap: bounded heap + semi join, never a row_number window") {
    val plan = planOf("q_source_cap")
    assert(!plan.contains("Window"),
      s"the cap must not serialize hot groups through a window:\n$plan")
    assert(plan.contains("LeftSemi"), s"kept keys must join back as LEFT SEMI:\n$plan")
    // the heap partial-aggs map-side like every bounded aggregate
    assert("ObjectHashAggregate|SortAggregate|HashAggregate".r.findFirstIn(plan).nonEmpty,
      s"bounded-heap aggregate missing:\n$plan")
  }

  test("snapshotDiff: the diff join carries hashes, never document text") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    // AQE wraps executedPlan in AdaptiveSparkPlanExec — a LEAF to collect()
    // over the tree — so node-level asserts run with AQE off (the AnnSpec
    // doctrine)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val joins = try {
      SparkEntry.queries("q_corpus_diff")(spark, sf).queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j.left.output ++ j.right.output
        case j: ShuffledHashJoinExec => j.left.output ++ j.right.output
        case j: BroadcastHashJoinExec => j.left.output ++ j.right.output
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(joins.nonEmpty, "expected a hash join in the diff plan")
    joins.foreach { out =>
      assert(!out.map(_.name).contains("text"),
        s"raw text crossed the diff join: ${out.map(_.name)}")
    }
  }

  test("freq sketch table: partial-agg sketches, scan pruned to used columns") {
    val plan = finalPlanOf("q_freq_sketch")
    // TypedImperativeAggregate partials combine map-side via ObjectHashAggregate
    assert("ObjectHashAggregate".r.findAllIn(plan).length >= 2,
      s"CMS partial aggregation lost:\n$plan")
    val readSchemas = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq
    assert(readSchemas.nonEmpty)
    assert(readSchemas.forall(s => !s.contains("doc_id") && !s.contains("n_chars")),
      s"unused columns in the documents scan:\n${readSchemas.mkString("\n")}")
  }

  test("entropy: map-only corpus pass — the only exchange is the final sort") {
    val plan = planOf("q_entropy")
    assert("Exchange".r.findAllIn(plan).length <= 1, s"entropy gained a shuffle:\n$plan")
    assert(plan.contains("graft_sorted_run_lengths"), s"kernel lost:\n$plan")
    // column pruning reaches the scan: text + doc_id only
    val rs = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq
    assert(rs.forall(s => !s.contains("source") && !s.contains("lang")), s"$rs")
  }

  test("basketAffinity: ONE basket shuffle + map-only pair explode, no self-join") {
    val plan = finalPlanOf("q_basket_affinity")
    // collect_set agg + pair count agg + item count agg + final sort + the
    // two count joinbacks — but NO join of the fact table with itself
    assert(!plan.contains("SortMergeJoin") ||
      "SortMergeJoin".r.findAllIn(plan).length <= 2, s"basket self-join appeared:\n$plan")
    assert(plan.contains("Generate explode"), s"pair explosion not map-side:\n$plan")
  }

  test("weightedSample / topPaths keep bounded top-k plans") {
    assert(planOf("q_weighted_sample").contains("TakeOrderedAndProject"))
    assert(planOf("q_top_paths").contains("TakeOrderedAndProject"))
  }

  test("twab: opening-fold predicate prunes at the scan; one window") {
    val plan = planOf("q_twab")
    assert("Window \\[".r.findAllIn(plan).length == 1,
      s"TWAB should have exactly one per-user window:\n$plan")
  }

  test("hybridSearch: the corpus-side BM25 leg ends in a bounded top-k") {
    val plan = planOf("q_hybrid_search")
    assert(plan.contains("TakeOrderedAndProject"), s"BM25 leg lost its heap:\n$plan")
  }

  test("bench top-10: pinned exchange/sort budgets, no Expand (r8 guard)") {
    // The 10 most expensive bench keys, pinned at their r8 plan shapes so a
    // future edit that reintroduces an Expand (the r7 q_correlation
    // regression: six countDistincts → a pairs×7 Expand over every lineitem
    // row) or an extra shuffle fails HERE, not in a bench read two rounds
    // later. Counts include BroadcastExchange (cheap but shape-relevant);
    // for the iterative keys (scc, clusters, the k-means trainers) the
    // loops materialize per-iteration, so the budget pins the final
    // assembly plan — their in-loop shapes are guarded by their own specs.
    // A count DROPPING below budget is an improvement, not a failure.
    val budgets = Seq(
      ("q_trust_scc", 1, 1),
      ("q_correlation", 1, 1), // one 2-phase HashAggregate, NO Expand
      ("q_semantic_dedup_docs", 3, 3),
      ("q_quality_clf", 1, 1),
      ("q_containment", 11, 1),
      ("q_dedup_embedding_clusters", 1, 1),
      ("q_crc_ledger", 7, 1),
      ("q_semantic_dedup", 2, 1),
      ("q_source_overlap", 3, 1),
      ("q_novelty", 5, 1),
      // r8: the funnel census must stay join-free — one (stage, hash)
      // partial agg + the 1-row census collapse, no keeper join-back
      ("q_curation_funnel", 2, 1),
      // r9 served keys: the memoized stores must STAY reads. q_node2vec
      // serves the trained parquet (one output sort, no shuffle beyond
      // it); the canonical twin is the min_by pick + decoration join
      // over the stored labels — if training/clustering re-enters these
      // plans the budgets blow immediately
      ("q_node2vec", 1, 1),
      // 5 exchanges (2 broadcast store reads + pick agg + join + output
      // range sort) and 4 sorts (min_by runs as a two-phase SortAggregate
      // + the pre-AQE SMJ sort + output) — the point is the ORDER of
      // magnitude: clustering re-entering this plan adds tens of both
      ("q_canonical_docs_served", 5, 4))
    budgets.foreach { case (key, maxExchanges, maxSorts) =>
      val plan = planOf(key)
      val ex = "Exchange".r.findAllIn(plan).length
      val so = "Sort \\[".r.findAllIn(plan).length
      assert(ex <= maxExchanges,
        s"$key: $ex exchanges (budget $maxExchanges) — a shuffle crept in:\n$plan")
      assert(so <= maxSorts,
        s"$key: $so sorts (budget $maxSorts) — a sort crept in:\n$plan")
      assert(!plan.contains("Expand"),
        s"$key: an Expand reappeared (the r7 countDistinct lesson):\n$plan")
    }
  }

  test("r8 additions: drift/zipf/mix/burstiness keep their bounded shapes") {
    // psiDrift: the two snapshot scans prune to (source, n_chars) only
    val drift = planOf("q_corpus_drift")
    val driftSchemas = "ReadSchema: [^\\n]+".r.findAllIn(drift).toSeq
    assert(driftSchemas.nonEmpty &&
      driftSchemas.forall(x => !x.contains("text") && !x.contains("lang")),
      s"psiDrift must never read document text:\n${driftSchemas.mkString("\n")}")
    // zipfSlope: the top-100 cut is bounded MAP-SIDE (a WindowGroupLimit
    // below the exchange), so the vocabulary never rides the window shuffle
    val zipf = finalPlanOf("q_zipf_slope")
    assert(zipf.contains("WindowGroupLimit"),
      s"zipf top-N lost its group-limit pushdown:\n$zipf")
    // languageMix: chunk text stays map-side — no shuffle's input carries
    // chunk_text (only (doc_id, lang) pairs aggregate). Node-level check
    // with AQE off (the snapshotDiff doctrine: AdaptiveSparkPlanExec is a
    // leaf to collect()).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exchanges = SparkEntry.queries("q_language_mix")(spark, sf)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected shuffles in the language-mix plan")
      exchanges.foreach(e =>
        assert(e.child.output.forall(a => !a.name.contains("chunk_text")),
          s"chunk_text leaked into an exchange: ${e.child.output.map(_.name)}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // burstiness: the moment groupBy REUSES the lag window's hash
    // partitioning — exactly 2 exchanges total (user hash + output sort)
    val burst = planOf("q_burstiness")
    assert("Exchange".r.findAllIn(burst).length <= 2,
      s"burstiness grew an extra shuffle:\n$burst")
  }

  test("r8c additions: attribution/rfm/canonical keep bounded shapes") {
    // attribution: BOTH ignore-nulls frames ride one user window
    // (one Exchange + Sort), the credit explode is map-side, one channel
    // agg, one output sort — ≤3 exchanges, ONE pass over events
    val attr = planOf("q_attribution")
    assert("Exchange".r.findAllIn(attr).length <= 3,
      s"attribution grew an extra shuffle (second window pass?):\n$attr")
    assert("Window".r.findAllIn(attr).length <= 1,
      s"attribution must compute both touches in one window:\n$attr")
    // rfm: three orderedScan windows partition by gr_bucket — never the
    // single-partition ntile trap
    val rfm = planOf("q_rfm")
    assert(!rfm.contains("Exchange SinglePartition"),
      s"rfm fell into a single-partition global window:\n$rfm")
    // canonicalDocs: document text never rides a shuffle — only
    // (doc_id, cluster_id, n_chars) longs exchange
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exchanges = SparkEntry.queries("q_canonical_docs")(spark, sf)
        .queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.nonEmpty, "expected shuffles in the canonical plan")
      exchanges.foreach(e =>
        assert(e.child.output.forall(a => a.name != "text"),
          s"document text leaked into an exchange: ${e.child.output.map(_.name)}"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("r10 retrieval keys: legs end in bounded top-k artifacts") {
    // the agreement report must inherit the legs' bounded shapes: the
    // BM25 leg ends in a TakeOrderedAndProject (orderBy+limit over the
    // score), the dense leg in the bounded-heap TopKAgg — the final
    // full-outer join and agg then run on ≤2k rows whatever the corpus
    val agree = planOf("q_retrieval_agreement")
    assert(agree.contains("TakeOrderedAndProject"),
      s"bm25 leg lost its bounded top-k:\n$agree")
    // the only nested-loop joins are the two 1-row broadcast probes
    // (dense query vector, BM25 stats row) — never a corpus cartesian
    assert("CartesianProduct".r.findAllIn(agree).isEmpty,
      s"agreement plan grew a cartesian:\n$agree")
    val served = planOf("q_hybrid_search_served")
    assert("CartesianProduct".r.findAllIn(served).isEmpty,
      s"served hybrid plan grew a cartesian:\n$served")
  }

  test("graph_ann node-store build: hashed vec_ids, never a global window") {
    // the r9 verdict finding: row_number().over(Window.orderBy("node"))
    // was a single-task sort over the whole node registry in the
    // store-build path; the hashed-id spelling must stay window-free
    import spark.implicits._
    val exploded = Seq(("a", 0, 0.1), ("a", 1, 0.2), ("b", 0, 0.3), ("b", 1, 0.4))
      .toDF("node", "dim", "value")
    val plan = keys.graph.graphAnnNodes(exploded).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"graph_ann node build regrew a window:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"graph_ann node build collapsed to one partition:\n$plan")
    // ids are unique, non-negative, and the embedding assembles in dim order
    val rows = keys.graph.graphAnnNodes(exploded)
      .as[(Long, String, Seq[Float])].collect().sortBy(_._2)
    assert(rows.map(_._1).distinct.length == 2)
    assert(rows.forall(_._1 >= 0L), s"vec_id must be non-negative: ${rows.toSeq}")
    assert(rows.map(r => r._3.map(v => math.round(v * 10f))).toSeq ==
      Seq(Seq(1, 2), Seq(3, 4)))
  }

  test("r11b keys: ABI decode stays map-only-to-sort and codegen'd; mmr legs bounded") {
    // the long-format event decode: posexplode + split projection; the ONLY
    // exchange is the final global sort (rangepartitioning) — no join, no
    // aggregate before it, and the projection stays inside codegen (the
    // fused-map spelling fell out of codegen at 64 KB)
    def finalSection(plan: String): String = plan.split("== Initial Plan ==").head
    val ev = finalSection(finalPlanOf("q_abi_decode"))
    assert("Exchange".r.findAllIn(ev).length <= 1,
      s"event decode grew a non-sort exchange:\n$ev")
    assert(!ev.contains("SortMergeJoin") && !ev.contains("BroadcastHashJoin"),
      s"event decode must not join:\n$ev")
    assert(ev.contains("*(1)"), s"event decode fell out of codegen:\n$ev")
    val calls = finalSection(finalPlanOf("q_abi_input_decode"))
    assert("Exchange".r.findAllIn(calls).length <= 1,
      s"call decode grew a non-sort exchange:\n$calls")
    assert(calls.contains("*(1)"), s"call decode fell out of codegen:\n$calls")
    // coverage audits: one partial-agg shuffle over tiny key spaces
    val cov = finalPlanOf("q_abi_coverage")
    assert(cov.contains("partial_count") || cov.contains("HashAggregate"),
      s"coverage lost partial aggregation:\n$cov")
    // mmr: the candidate leg ends bounded (TopKAgg heap), no corpus cartesian
    // beyond the 1-row query-vector broadcast
    val mmrCand = Retrieval.denseLegScored(
      Tables.embeddings(spark, sf), 0L, 12).queryExecution.executedPlan.toString
    assert(mmrCand.contains("topk") || mmrCand.contains("TopK") ||
      mmrCand.contains("ObjectHashAggregate"),
      s"mmr candidate leg lost the bounded heap:\n$mmrCand")
  }

  test("r12 keys: hyperball serves are pure store reads; dedup cap valve broadcasts") {
    // the fused-store serves must stay parquet-scan + output-sort — a join
    // or aggregate here means someone re-attached the sweep to the key
    def finalSection(plan: String): String = plan.split("== Initial Plan ==").head
    for (k <- Seq("q_trust_nf", "q_trust_harmonic")) {
      val p = finalSection(finalPlanOf(k))
      assert(!p.contains("Join"), s"$k must not join (store read):\n$p")
      assert(!p.contains("HashAggregate"), s"$k must not aggregate:\n$p")
      assert("Exchange".r.findAllIn(p).length <= 1,
        s"$k grew a non-sort exchange:\n$p")
    }
    // the exact-edition hot-band cap (r12): the valve must stay a BROADCAST
    // anti-join on the bucket key — a shuffled anti-join or a window count
    // here re-introduces the global sort the valve exists to avoid.
    // r15: q_dedup_minhash pins its candidate pairs eagerly (the 54→14
    // Exchange materialization), which moves the valve into an earlier
    // job — assert it on the LAZY candidate generator instead; the final
    // key plan still must not window or fall into a product join.
    for (k <- Seq("q_dedup_minhash", "q_dedup_simhash")) {
      val p = finalPlanOf(k)
      assert(!p.contains("Window"), s"$k must not count over a window:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$k fell into a product join:\n$p")
    }
    assert(finalPlanOf("q_dedup_simhash").contains("LeftAnti"),
      "q_dedup_simhash lost the cap valve anti-join")
    val cand = graft.operators.Dedup.minhashExactCandidates(
      graft.operators.TextMetrics.gramKeys(
        Tables.documents(spark, sf), 3, Seq("doc_id")).localCheckpoint(true),
      graft.operators.Dedup.minhashExactCoeffs(16), 2, 10000)
      .queryExecution.executedPlan.toString
    assert(cand.contains("LeftAnti"),
      s"minhash candidate generator lost the cap valve anti-join:\n$cand")
    assert(!cand.contains("Window"),
      s"minhash candidate generator must not count over a window:\n$cand")
  }
}
