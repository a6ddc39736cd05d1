package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}

/** The offset log + batch retrieval half of a block source (the
  * Structured Streaming source contract), shared by `graft-live` and
  * `graft-rpc`: a subclass runs its own reader thread that feeds rows
  * through [[appendBackpressured]] and fails the stream by setting
  * [[failure]]; this class owns the driver-side buffer, the offsets Spark
  * asks for, and the slicing of a batch into `numPartitions` splits.
  *
  * Offsets are row counts since the stream started. The transports are
  * not replayable, so a restart against a stale checkpoint may ask for
  * offsets this stream never buffered: those are clamped away, never
  * failed on (end-to-end exactly-once is the downstream gated import's
  * job).
  *
  * `toRow` converts one buffered row on the executor, so it must be a
  * serializable function that captures nothing of the stream.
  */
private[sources] abstract class BufferedMicroBatchStream[R: ClassTag](
    numPartitions: Int, maxBufferedRows: Int,
    bufferHighWater: graft.streaming.Metrics.Child,
    toRow: R => InternalRow)
  extends MicroBatchStream {

  private val lock = new Object
  private val buffer = new ArrayBuffer[R]
  private var baseOffset = 0L
  /** Highest offset handed to a micro-batch via [[planInputPartitions]] —
    * the backpressure valve's drain signal. Guarded by `lock`.
    */
  private var servedOffset = 0L
  /** A reader-thread fault; the next [[latestOffset]] rethrows it. */
  @volatile protected var failure: Throwable = _
  @volatile protected var stopped = false

  /** BACKPRESSURE — the one structural property of the reference's Akka
    * Streams pipeline (its Source/SelectAsync stages are backpressured end
    * to end, Indexer.cs:107): the reader thread BLOCKS once
    * `maxBufferedRows` rows await being SERVED to a micro-batch and
    * resumes when [[planInputPartitions]] hands them over, so a deep
    * catch-up is paced by the consumer, never by the driver heap. Blocking
    * the reader is the valve: a push source stops draining its socket, the
    * TCP window fills and the server-side replay pauses. The valve counts
    * UNSERVED rows, not uncommitted ones: Spark defers `commit(N)` until it
    * constructs batch N+1, so gating on commit would deadlock the stream
    * at exactly `maxBufferedRows` (no new data ⇒ no next batch ⇒ no commit
    * ⇒ the reader never resumes — caught by the backpressure soaks in
    * RpcRobustnessSpec). Served-but-uncommitted rows stay in the buffer
    * until their commit lands, bounding total fill at ~2× the valve (+ one
    * append's rows). `planInputPartitions`/`commit`/`stop` notify.
    */
  protected def appendBackpressured(rows: Iterable[R]): Unit = lock.synchronized {
    while (baseOffset + buffer.length - servedOffset >= maxBufferedRows &&
           !stopped && failure == null)
      lock.wait(100)
    if (!stopped) {
      buffer ++= rows
      bufferHighWater.set(math.max(bufferHighWater.value, buffer.length.toDouble))
    }
  }

  override def initialOffset(): Offset = BufferOffset(0L)
  override def deserializeOffset(json: String): Offset = BufferOffset(json.toLong)

  override def latestOffset(): Offset = {
    val f = failure
    if (f != null) throw f
    lock.synchronized { BufferOffset(baseOffset + buffer.length) }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[BufferOffset].v, end.asInstanceOf[BufferOffset].v)
    val rows = lock.synchronized {
      servedOffset = math.max(servedOffset, e)
      lock.notifyAll() // served rows no longer count against the valve
      val from = math.max(s - baseOffset, 0L).toInt
      val until = math.min(math.max(e - baseOffset, 0L), buffer.length.toLong).toInt
      if (from >= until) Array.empty[R]
      else buffer.slice(from, until).toArray
    }
    if (rows.isEmpty) Array.empty
    else {
      val n = math.max(1, math.min(numPartitions, rows.length))
      rows.grouped((rows.length + n - 1) / n)
        .map(g => BufferedInputPartition(g): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BufferedReaderFactory(toRow)

  override def commit(end: Offset): Unit = lock.synchronized {
    val e = end.asInstanceOf[BufferOffset].v
    val drop = math.min(math.max(e - baseOffset, 0L), buffer.length.toLong).toInt
    buffer.remove(0, drop)
    baseOffset = math.max(baseOffset, e)
    lock.notifyAll() // wake a reader blocked on the backpressure valve
  }

  override def stop(): Unit = {
    stopped = true
    lock.synchronized { lock.notifyAll() }
  }
}

private[sources] case class BufferOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[sources] final case class BufferedInputPartition[R](rows: Array[R])
  extends InputPartition

private[sources] class BufferedReaderFactory[R](toRow: R => InternalRow)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[BufferedInputPartition[R]].rows
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = toRow(rows(i))
      override def close(): Unit = ()
    }
  }
}
