package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** `analytics`: the read side. One client, one key at a time, closed loop:
  * each key is built by its `SparkEntry.queries` builder and written to
  * the noop sink; every pass runs the panel in a seed-shuffled order, and
  * passes repeat until the window is used up (at least two whole passes).
  * Every figure is taken over all the window's executions.
  */
object Analytics {
  /** The panel, by family. `graph` holds an iterative fixpoint loop (job-
    * and driver-bound; each graph key costs about 2 s on these tables, so
    * one stands for the family); the other families are one-pass scan,
    * codegen and shuffle plans. A key's time moves by up to a tenth from one
    * JVM to the next whatever the machine does, so the per-pass families
    * hold several cheap keys: the figures taken across keys then average
    * that out.
    */
  val Panel: Seq[(String, Seq[String])] = Seq(
    "indexer" -> Seq("q_classify", "q_receipt_classify", "q_reorg_check"),
    "views" -> Seq("q_trust_view", "q_all_signups", "q_token_balances"),
    "graph" -> Seq("q_trust_rank"),
    "tpch" -> Seq("q1_pricing_summary"))
  val familyOf: Map[String, String] = Panel.flatMap { case (f, ks) => ks.map(_ -> f) }.toMap
  val PinsFile = "graftbench/pins/analytics.json"
  val Tables = Seq("lineitem", "events")
  val MinPasses = 2
  /** Untimed noop passes after the digest pass. A key's time keeps falling
    * over its first executions (the JIT is still compiling), so without
    * them the window's median lands on half-warm code. */
  val WarmPasses = 1

  // ---- data ---------------------------------------------------------------

  /** Fixed synthetic `lineitem` and `events` tables in the testdata layout
    * (the workload seed only shuffles key order, so results can be pinned).
    * Every value is a hash of its row id, so the tables are the same on
    * every machine.
    */
  def generate(spark: SparkSession, dir: String): Unit = {
    def h(salt: String, c: Column): Column = xxhash64(lit("graftbench-v1"), lit(salt), c)
    def int(salt: String, c: Column, n: Long): Column = pmod(h(salt, c), lit(n))
    def unif(salt: String, c: Column): Column = pmod(h(salt, c), lit(1000000L)) / 1000000.0
    def money(salt: String, c: Column, lo: Double, hi: Double): Column =
      round(lit(lo) + unif(salt, c) * (hi - lo), 2)
    def pick(salt: String, c: Column, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (int(salt, c, xs.size) + 1).cast("int"))
    def day(salt: String, c: Column, from: String, days: Int): Column =
      to_timestamp(date_add(lit(from).cast("date"), int(salt, c, days).cast("int")))
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    val id = col("id")
    val (parts, suppliers, orders, users, events) = (1500L, 100L, 8000L, 150L, 5000L)
    write("lineitem", spark.range(orders)
      // 0..7 lines per order: orders without lines leave gaps in l_orderkey
      .select(id.as("l_orderkey"), explode(sequence(lit(1), int("ln", id, 8).cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"),
        int("lp", col("l_orderkey") * 8 + col("l_linenumber"), parts).as("l_partkey"),
        int("ls", col("l_orderkey") * 8 + col("l_linenumber"), suppliers).as("l_suppkey"),
        col("l_linenumber"),
        (int("lq", col("l_orderkey") * 8 + col("l_linenumber"), 50) + 1).cast("double").as("l_quantity"),
        money("le", col("l_orderkey") * 8 + col("l_linenumber"), 900.0, 105000.0).as("l_extendedprice"),
        (int("ld", col("l_orderkey") * 8 + col("l_linenumber"), 11) / 100.0).as("l_discount"),
        (int("lt", col("l_orderkey") * 8 + col("l_linenumber"), 9) / 100.0).as("l_tax"),
        pick("lr", col("l_orderkey") * 8 + col("l_linenumber"), Seq("A", "N", "R")).as("l_returnflag"),
        pick("lf", col("l_orderkey") * 8 + col("l_linenumber"), Seq("F", "O")).as("l_linestatus"),
        day("lsd", col("l_orderkey") * 8 + col("l_linenumber"), "1995-01-02", 2500).as("l_shipdate")))
    write("events", spark.range(events).select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + id * (30L * 86400000000L / events) +
        int("et", id, 30L * 86400000000L / events)).as("ts"),
      int("eu", id, users).as("user_id"),
      pick("ey", id, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(-log(lit(1.0) - unif("ev", id) * 0.999) * 50.0 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), int("ek", id, 100), lit("}")).as("props")))
  }

  // ---- results ------------------------------------------------------------

  /** Order-insensitive digest of a result: row count and the sum of per-row
    * hashes. Floating columns are rounded to 6 places first, so the
    * summation order of a parallel aggregate cannot change the digest.
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val r = df.select(pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).collect()(0)
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  private def readPins(): Map[String, String] = {
    val p = Paths.get(PinsFile)
    if (!Files.exists(p)) Map.empty
    else """"(\w+)"\s*:\s*"([0-9:]+)"""".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  // ---- run ----------------------------------------------------------------

  /** One timed execution of a key; `analysisMs` is the analysis phase of
    * the DataFrame the builder returned (the final write re-analyzes only
    * its own command).
    */
  final case class KeyRun(key: String, pass: Int, startNs: Long, builtNs: Long, endNs: Long,
                          analysisMs: Double)

  def run(ctx: Ctx, pinOut: Option[String] = None): Outcome = {
    val spark = ctx.spark
    val keys = Panel.flatMap(_._2)
    // set-up: the tables are generated once, then loaded (listed, schema
    // read) afresh each repetition; then one pass that digests every key
    // for the correctness gate, and the warm passes
    val dir = ctx.freshDir("data")
    val (_, genS) = Ctx.timed(generate(spark, dir))
    val loads = (1 to Ctx.SetupReps).map { _ =>
      Ctx.timed(Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema))._2
    }
    val pins = readPins()
    val (digests, warmS) = Ctx.timed(keys.map { k =>
      k -> (try digest(graft.SparkEntry.queries(k)(spark, dir))
            catch { case e: Exception => s"threw ${e.getClass.getSimpleName}" })
    }.toMap)
    pinOut.foreach { path =>
      Files.writeString(Paths.get(path), keys.map(k => s"""  "$k": "${digests(k)}"""")
        .mkString("{\n", ",\n", "\n}\n"))
    }
    val bad = if (pinOut.isDefined) Nil else keys.filter(k => !pins.get(k).contains(digests(k)))
    if (bad.nonEmpty)
      System.err.println(s"[graftbench] analytics: digest mismatch for ${bad.mkString(", ")}")
    val (_, warmPassesS) = Ctx.timed((1 to WarmPasses).foreach { _ =>
      keys.foreach(k => graft.SparkEntry.queries(k)(spark, dir).write.mode("overwrite").format("noop").save())
    })

    // the window: whole passes in seed-shuffled order. A pass starts only
    // while the window is open and always completes, and at least two
    // passes run, so every key has as many executions as any other
    val runs = scala.collection.mutable.ArrayBuffer.empty[KeyRun]
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    var pass = 0
    while (pass < MinPasses || System.nanoTime() < deadline) {
      new scala.util.Random(ctx.seed * 7919L + pass).shuffle(keys).foreach { k =>
        ctx.tracer.span("analytics.key", k) { key =>
          ctx.setTag(s"build:$k")
          val s = System.nanoTime()
          val df = ctx.tracer.span("operators.build", k, key) { _ => graft.SparkEntry.queries(k)(spark, dir) }
          val b = System.nanoTime()
          ctx.setTag(s"exec:$k")
          ctx.tracer.span("operators.exec", k, key) { _ => df.write.mode("overwrite").format("noop").save() }
          val analysisMs = df.queryExecution.tracker.phases.get("analysis")
            .map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
          runs += KeyRun(k, pass, s, b, System.nanoTime(), analysisMs)
        }
      }
      pass += 1
    }
    val t1 = System.nanoTime()
    ctx.setTag("")

    keys.foreach { k =>
      val ms = runs.filter(_.key == k).map(r => (r.endNs - r.startNs) / 1e6)
      System.err.println(f"[graftbench] $k%-24s ${Stats.median(ms.toSeq)}%9.1f ms " + ms.map(x => f"$x%.0f").mkString(" "))
    }
    // every figure is taken over all the window's executions, pooled: a
    // pooled median moves less between runs than the median of per-key
    // medians does when each key has only a few executions. Passes are
    // whole, so each key weighs the same. The graph key is the slowest by
    // far, so p95 falls among its executions: it reads as that key's time
    // (with fewer than 10 samples beyond it), not as a tail of the panel
    val ms = runs.map(r => (r.endNs - r.startNs) / 1e6).toSeq
    val e2e = Outcome.endToEnd(ms.size / (ms.sum / 1e3), ms)
    val layers =
      if (!ctx.tracer.enabled) Nil else traced(ctx, runs.toSeq, t0, t1)
    Outcome(loads, genS + warmS + warmPassesS, attempted = keys.size.toLong, failed = bad.size.toLong, e2e,
      layers :+ (("operators.panel_s", ms.sum / 1e3 / pass, "s")))
  }

  /** Per-layer numbers, each per panel pass: a key's figures are averaged
    * over its executions and summed over the keys of a family.
    */
  private def traced(ctx: Ctx, runs: Seq[KeyRun], t0: Long, t1: Long): Seq[(String, Double, String)] = {
    val probe = ctx.probe.get
    probe.drain()
    val jobs = probe.jobsWhere(j => j.tag.startsWith("build:") || j.tag.startsWith("exec:"))
    val phases = probe.phasesWhere(_.tag.startsWith("exec:"))
    def jobsOf(r: KeyRun) = jobs.filter(j => j.tag.endsWith(s":${r.key}") && j.startNs >= r.startNs && j.startNs <= r.endNs)
    def perPass(f: String)(x: KeyRun => Double): Double =
      runs.filter(r => familyOf(r.key) == f).groupBy(_.key).values.map(rs => rs.map(x).sum / rs.size).sum
    val perFamily = Panel.map(_._1).flatMap { f =>
      val m = perPass(f) _
      Seq(
        (s"operators.build_s.$f", m(r => (r.builtNs - r.startNs) / 1e9), "s"),
        (s"operators.build_jobs.$f", m(r => jobsOf(r).count(_.tag.startsWith("build:")).toDouble), "count"),
        (s"operators.exec_s.$f", m(r => (r.endNs - r.builtNs) / 1e9), "s"),
        (s"spark.jobs.$f", m(r => jobsOf(r).size.toDouble), "count"),
        (s"spark.stages.$f", m(r => jobsOf(r).map(_.stages).sum.toDouble), "count"),
        (s"spark.tasks.$f", m(r => jobsOf(r).map(_.tasks).sum.toDouble), "count"),
        (s"spark.driver_gap_s.$f",
          m(r => Stats.uncovered(jobsOf(r).map(j => (j.startNs, j.endNs)), r.startNs, r.endNs) / 1e9), "s"))
    }
    Seq(
      ("plans.analysis_ms", Stats.median(runs.map(_.analysisMs)), "ms"),
      ("plans.optimize_ms", Stats.median(phases.map(_.optimizeMs)), "ms"),
      ("plans.physical_ms", Stats.median(phases.map(_.physicalMs)), "ms"),
      ("operators.key_runs", runs.size.toDouble, "count")
    ) ++ perFamily ++ SparkMetrics.of(jobs, t0, t1)
  }
}
