package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession

/** What one workload run measured: its input set-up repetitions and its
  * one warm-up (seconds), the operations attempted and failed, the
  * end-to-end metrics (name → value, unit) and, in a traced run, the
  * per-layer metrics.
  */
final case class Outcome(setupS: Seq[Double], warmS: Double, attempted: Long, failed: Long,
                         e2e: Map[String, (Double, String)],
                         layers: Seq[(String, Double, String)])

object Outcome {
  /** The end-to-end metrics a workload measures itself, from its throughput
    * and the latencies of its operations (`setup_s` is added by [[Main]]).
    */
  def endToEnd(throughput: Double, latenciesMs: Seq[Double]): Map[String, (Double, String)] = Map(
    "throughput_per_s" -> ((throughput, "1/s")),
    "latency_p50_ms" -> ((Stats.median(latenciesMs), "ms")),
    "latency_p95_ms" -> ((Stats.percentile(latenciesMs, 95), "ms")),
    "latency_geomean_ms" -> ((Stats.geomean(latenciesMs), "ms")))
}

/** Shared state of one run: the session, the seed, the window length, the
  * tracer and (traced runs only) the listener probe, and a private work
  * directory for every table, checkpoint and spill the run makes.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val probe: Option[SparkProbe], work: File) {
  private val dirs = new AtomicInteger(0)

  /** A path under the work directory that does not exist yet. */
  def freshDir(name: String): String =
    new File(work, s"${dirs.incrementAndGet()}_$name").getAbsolutePath

  def setTag(t: String): Unit = probe.foreach(_.tag = t)
}

object Ctx {
  val SetupReps = 3

  /** The value of `f` and the seconds it took. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** A labelled graft `Metrics` gauge, read from the public exposition. */
  def gauge(name: String, label: String): Double =
    graft.streaming.Metrics.render().linesIterator
      .find(l => l.startsWith(s"$name{") && l.contains("\"" + label + "\""))
      .map(_.split(' ').last.toDouble).getOrElse(0.0)

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Committed parquet files under `dir` (writers' `_temporary` excluded). */
  def parquetFiles(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter { p =>
        p.getFileName.toString.endsWith(".parquet") &&
          !root.relativize(p).toString.split('/').exists(_.startsWith("_"))
      }.count() finally s.close()
    }
  }
}

/** Entry point: `graftbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --cores <n> --work <dir> --out <file> [--pin <file>]`.
  * Writes the run's result as one JSON object to `--out` (and, traced, its
  * spans next to it); the runner script prints the final line. `--pin`
  * (analytics) writes the panel's result digests instead of checking them.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val work = new File(opts("work"))
    val trace = opts.getOrElse("trace", "0") == "1"
    val spark = SparkSession.builder()
      .master(s"local[${opts.getOrElse("cores", "4")}]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.registerAll(spark)
    val probe = if (trace) Some(new SparkProbe(spark)) else None
    probe.foreach(_.attach())
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt, tracer, probe, work)
    SparkMetrics.cores = opts.getOrElse("cores", "4").toInt
    // JVM start to a ready session: paid once per run
    val bootS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = try workload match {
      case "live" => Live.run(ctx)
      case "analytics" => Analytics.run(ctx, pinOut = opts.get("pin"))
      case other => sys.error(s"unknown workload: $other")
    } finally {
      tracer.write(Paths.get(opts("out") + ".spans.jsonl"))
    }
    spark.stop()
    val setupS = bootS + Stats.median(out.setupS) + out.warmS
    val metrics =
      if (trace) out.layers ++ Seq(
        ("ops_failed_frac", out.failed.toDouble / math.max(1L, out.attempted), "ratio"),
        ("setup.boot_s", bootS, "s"), ("setup.inputs_s", Stats.median(out.setupS), "s"),
        ("setup.warm_s", out.warmS, "s"), ("spark.rss_peak_mb", Ctx.rssPeakMb(), "MB")) ++
        out.e2e.toSeq.map { case (k, (v, u)) => (s"traced.$k", v, u) }
      else out.e2e.toSeq.map { case (k, (v, u)) => (k, v, u) } :+ (("setup_s", setupS, "s"))
    val body = metrics.map { case (k, v, u) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(opts("out")),
      s"""{"attempted":${out.attempted},"failed":${out.failed},"metrics":$body}""")
    ()
  }
}
