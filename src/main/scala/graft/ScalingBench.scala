package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-credibility probe (r14 VERDICT item 3): at sf0.1 every bench
  * key is job-launch/codegen-bound, so the driver's 8-core sweep reads
  * t8/t32 ≈ 1.0 for every key and the bench cannot certify parallel
  * scaling at all. This main times a panel of SHUFFLE-BOUND declared keys
  * (verbatim `SparkEntry.queries` entries — same code paths the driver
  * grades) on a deterministically replicated `factor`× copy of the sf0.1
  * inputs, at local[32] and then local[8], and writes a SCALING.json
  * artifact with the per-key ratios.
  *
  * Honesty notes baked into the method:
  *  - the replicated copies keep foreign keys consistent WITHIN the
  *    replicated table set (events / documents / lineitem) — panel keys
  *    touch only those tables;
  *  - the 32-core session runs FIRST, so JIT warmth favors the 8-core
  *    session and the published t8/t32 is an UNDER-estimate;
  *  - each session pays one untimed warmup pass per key; the published
  *    number is the median of `runs` timed noop-sink passes;
  *  - results are never compared against the oracle here (replicated
  *    inputs compute different answers by construction) — correctness
  *    stays the Verify surface's job.
  *
  * Usage: runMain graft.ScalingBench [factor] [outPath] [runs]
  */
object ScalingBench {

  val PanelKeys: Seq[String] = Seq(
    // events-family (receipt pipeline → views / graph loops)
    "q_sessions", "q_latest_event", "q_trust_components", "q_trust_ppr",
    "q_safe_timeline", "q_crc_ledger", "q_temporal_reach",
    // documents-family (token/gram shuffles)
    "q_tfidf", "q_dedup_minhash", "q_containment", "q_bigram_logprob",
    "q_substring_dedup",
    // lineitem-family (wide-agg / pair-enumeration shuffles)
    "q1_pricing_summary", "q_profile", "q_basket_affinity")

  /** Replicate sf0.1 `factor`× with per-copy key offsets (consistent
    * within each table — copies are disjoint id spaces, so joins behave
    * like `factor` independent shards).
    */
  private def buildDataset(spark: SparkSession, srcDir: String, dir: String,
                           factor: Int): Unit = {
    if (new java.io.File(s"$dir/_OK_$factor").exists()) return
    val ev = Tables.events(spark, srcDir)
    val en = ev.count()
    (0 until factor).map(i =>
        ev.withColumn("event_id", col("event_id") + lit(i * en))
          .withColumn("user_id", col("user_id") + lit(i * 1000000L)))
      .reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val docs = Tables.documents(spark, srcDir)
    val dn = docs.count()
    (0 until factor).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * dn)))
      .reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val maxOk = li.agg(max("l_orderkey")).head().getLong(0) + 1
    val maxPk = li.agg(max("l_partkey")).head().getLong(0) + 1
    (0 until factor).map(i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * maxOk))
          .withColumn("l_partkey", col("l_partkey") + lit(i * maxPk)))
      .reduce(_ unionAll _).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    new java.io.FileOutputStream(s"$dir/_OK_$factor").close()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def sweep(cpus: Int, dir: String, runs: Int): Map[String, Double] = {
    val spark = LocalSession(cpus)
    val fns = SparkEntry.queries.filter { case (n, _) => PanelKeys.contains(n) }
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    // session warmup: scan + shuffle + noop-sink init
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.groupBy("l_returnflag").count().count()
    li.limit(100).write.mode("overwrite").format("noop").save()
    val out = PanelKeys.flatMap { name =>
      fns.get(name).flatMap { fn =>
        try {
          noop(fn(spark, dir)) // untimed per-key warmup
          val xs = (1 to runs).map { _ =>
            val t0 = System.nanoTime()
            noop(fn(spark, dir))
            (System.nanoTime() - t0) / 1e9
          }
          System.err.println(f"[scaling] local[$cpus%2d] $name%-24s med ${median(xs)}%7.2fs  (${xs.map(x => f"$x%.2f").mkString(", ")})")
          Some(name -> median(xs))
        } catch { case e: Throwable =>
          System.err.println(s"[scaling] local[$cpus] $name FAILED: ${e.getMessage}")
          None
        }
      }
    }.toMap
    spark.stop()
    out
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val outPath = args.drop(1).headOption.getOrElse("SCALING.json")
    val runs = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = s"/tmp/graft_scaling_${factor}x"
    val build = LocalSession(32)
    buildDataset(build, srcDir, dir, factor)
    build.stop()
    val hi = sweep(32, dir, runs)
    val lo = sweep(8, dir, runs)
    def r3(x: Double) = math.round(x * 1000.0) / 1000.0
    val keys = PanelKeys.filter(k => hi.contains(k) && lo.contains(k))
    val rows = keys.map { k =>
      s""""$k":{"t32":${r3(hi(k))},"t8":${r3(lo(k))},"ratio":${r3(lo(k) / hi(k))}}"""
    }.mkString("{", ",", "}")
    val ratios = keys.map(k => lo(k) / hi(k))
    val json =
      s"""{"metric":"scaling","factor":$factor,"src":"$srcDir","cpus_high":32,"cpus_low":8,"runs":$runs,"order":"high_first","median_ratio":${r3(median(ratios))},"per_query":$rows}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
  }
}
