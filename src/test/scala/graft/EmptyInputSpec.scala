package graft

/** Every query must be total: empty partitions are routine at 100 TB
  * (fresh dates, pruned-out splits), and an operator that throws on an
  * empty group/table poisons whole jobs.
  */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = tempDir("graft-empty-sf")
    val src = "/root/testdata/sf0.001"
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    // events goes through Tables.events (nanos-as-long), so write the RAW
    // long-ts shape it expects
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$src/events.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("all queries run (and return no rows) on empty inputs") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val n = try fn(spark, emptyDir).count()
      catch { case e: Throwable => fail(s"$name threw on empty input: ${e.getMessage}") }
      if (!EmptyInputSpec.globalAggs.contains(name))
        assert(n == 0L, s"$name returned $n rows on empty input")
    }
  }
}

object EmptyInputSpec {
  // global aggregates legitimately return their single row on empty
  // input (q_last_valid's watermark, q_total_minted's / the TPC-H
  // ratio queries' null sums)
  val globalAggs: Set[String] = Set("q_last_valid", "q_total_minted",
    "q14_promo_share", "q19_disjunctive_rev",
    "q6_forecast_revenue", "q17_small_qty_revenue",
    // 1-row global min (NULL on empty, like the oracle's SELECT min())
    "q_first_incomplete",
    // 1-row point probe: capacity row with zero/NULL components
    "q_get_capacity",
    // report frames: one row per profiled column / per DQ check / per
    // correlation pair even over an empty table (zero counts ARE the
    // report; r is null)
    "q_profile", "q_dq_report", "q_correlation",
    // same convention as q_correlation: the 1-row correlation report
    // with null r and n_edges=0 IS the empty graph's answer (agg over
    // empty, like the oracle's single-row SELECT; GraphSpec pins it)
    "q_trust_assortativity",
    // 1-row global Gini report (n=0, null total/gini) — the oracle's
    // single-row aggregate SELECT returns the same shape on empty
    "q_wealth_gini",
    // 1-row global Herfindahl report (n=0, null hhi/effective) — the
    // oracle's single-row aggregate SELECT returns the same shape on
    // empty (the q_wealth_gini precedent)
    "q_hhi",
    // 1-row fingerprint: (0, "0") IS the empty corpus's checksum
    "q_dataset_checksum",
    // 4-row stage census: all stages at 0/0 IS the empty-corpus funnel
    "q_curation_funnel",
    // 1-row agreement report: zero counts + null ratios IS the
    // empty-legs answer (the q_correlation report convention)
    "q_retrieval_agreement", "q_dedup_signal_overlap")
}
