package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Analytics

/** One query key: its builder, its DuckDB oracle, and whether it reads a
  * memoized per-sfDir store.
  *
  * @param oracle the ANSI SQL (DuckDB) twin of `build`, with byte-identical
  *   column aliases. `None` marks a rows-only key: its output is
  *   engine-specific (hash-seeded banding and fingerprints, sketch
  *   estimates, file layout stats) and is verified against brute-force
  *   references in ScalaTest instead.
  * @param storeBacked the key serves from a store (trained embeddings,
  *   IVF/text indexes, sketch/view stores) that builds once per sfDir. Bench
  *   PREWARMS these once untimed so published medians report pure
  *   steady-state serve cost — the build is the labeled one-time cost
  *   (BENCH_NOTES.md, "Round-11 10x probe rows"), and without the prewarm
  *   run 1's build either skews the mean or, when a resweep replaces the
  *   samples, leaks into the median itself. Keys sharing a store (e.g. the
  *   "days" store) are all marked — the memo makes extra prewarms free.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    storeBacked: Boolean = false)

/** The query-key contract — see SURVEY.md §2 for the operator inventory
  * each key maps to, and §3 for the reference→testdata data-model mapping.
  * Every key is one [[QueryDef]] in its family object under `graft.keys`.
  * Column names/aliases there are kept byte-identical to the oracle SQL
  * (the oracle check sorts columns by name and hash-compares values).
  */
object SparkEntry {

  /** Flagship query on the sf0.001 testdata; the smoke check wants rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  /** The registry: every key, defined once. */
  val all: Seq[QueryDef] =
    keys.tpch.defs ++ keys.analytics.defs ++ keys.indexer.defs ++ keys.graph.defs ++
      keys.views.defs ++ keys.corpus.defs ++ keys.retrieval.defs

  /** Builder per key: one entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  /** DuckDB oracle per key; rows-only keys are absent. */
  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
