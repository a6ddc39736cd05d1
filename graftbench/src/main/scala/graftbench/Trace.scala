package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval at a layer boundary. Spans of one key or block
  * share `group`; `parent` is the id of the span that caused it (0 = root).
  */
final case class Span(id: Long, parent: Long, group: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (untraced runs) it only runs the
  * body; enabled, it keeps every span until [[write]] at the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)

  def span[A](name: String, group: String = "", parent: Long = 0L)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id) finally spans.add(Span(id, parent, group, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"group":${Json.str(s.group)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

final case class Job(tag: String, startNs: Long, var endNs: Long, stages: Int,
                     var tasks: Int, var cpuNs: Long, var gcMs: Long,
                     var shuffleWrite: Long, var shuffleRead: Long, var spill: Long,
                     var failedTasks: Int)

/** Planning-phase durations of one executed query plan. */
final case class Phases(tag: String, optimizeMs: Double, physicalMs: Double)

/** Job-level engine counters gathered through Spark's public listener
  * interfaces (traced runs only). Every job and query-execution event is
  * stamped with the harness's current `tag` (a workload phase or an
  * analytics key), so counts can be split by phase or family.
  */
final class SparkProbe(spark: SparkSession) {
  @volatile var tag: String = ""
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val progress = new ConcurrentLinkedQueue[(Long, StreamingQueryListener.QueryProgressEvent)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = Job(tag, WallClock.toNano(e.time), 0L, e.stageIds.size, 0, 0L, 0L, 0L, 0L, 0L, 0)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endNs = WallClock.toNano(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(k: String) = p.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      phases.add(Phases(tag, ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((System.nanoTime(), e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  def jobsWhere(p: Job => Boolean): Seq[Job] = jobs.synchronized(jobs.values.filter(p).toSeq)
  def phasesWhere(p: Phases => Boolean): Seq[Phases] = phases.asScala.filter(p).toSeq
  /** (arrival time, progress) of every streaming micro-batch. */
  def batches: Seq[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)] =
    progress.asScala.toSeq.map { case (t, e) => (t, e.progress) }
}

/** The engine-level `spark.*` metrics for `jobs` over the wall interval
  * `[fromNs, toNs)`; `suffix` splits them by family (".graph").
  */
object SparkMetrics {
  @volatile var cores = 4

  def of(jobs: Seq[Job], fromNs: Long, toNs: Long, suffix: String = ""): Seq[(String, Double, String)] = {
    val wallS = math.max(1L, toNs - fromNs) / 1e9
    val cpuS = jobs.map(_.cpuNs).sum / 1e9
    val gap = Stats.uncovered(jobs.map(j => (j.startNs, if (j.endNs > 0) j.endNs else toNs)), fromNs, toNs) / 1e9
    val mb = 1024.0 * 1024.0
    Seq(
      (s"spark.jobs$suffix", jobs.size.toDouble, "count"),
      (s"spark.stages$suffix", jobs.map(_.stages).sum.toDouble, "count"),
      (s"spark.tasks$suffix", jobs.map(_.tasks).sum.toDouble, "count"),
      (s"spark.task_cpu_s$suffix", cpuS, "s"),
      (s"spark.cpu_util$suffix", cpuS / (wallS * cores), "ratio"),
      (s"spark.driver_gap_s$suffix", gap, "s"),
      (s"spark.shuffle_write_mb$suffix", jobs.map(_.shuffleWrite).sum / mb, "MB"),
      (s"spark.shuffle_read_mb$suffix", jobs.map(_.shuffleRead).sum / mb, "MB"),
      (s"spark.spill_mb$suffix", jobs.map(_.spill).sum / mb, "MB"),
      (s"spark.gc_s$suffix", jobs.map(_.gcMs).sum / 1e3, "s"),
      (s"spark.task_failures$suffix", jobs.map(_.failedTasks).sum.toDouble, "count"))
  }
}

/** Listener events and progress reports carry wall-clock milliseconds;
  * spans and due times use `System.nanoTime`. */
object WallClock {
  private val offset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  def toNano(epochMs: Long): Long = epochMs * 1000000L + offset
  /** When a micro-batch started, on the spans' clock. */
  def startNs(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Long =
    toNano(java.time.Instant.parse(p.timestamp).toEpochMilli)
}

/** Minimal JSON rendering for the result line and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
