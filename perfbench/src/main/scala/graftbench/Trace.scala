package graftbench

import java.io.Writer
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch nanoseconds. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, job: Int)

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one go, so recording costs two clock reads and an
  * append. Disabled, it runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var job: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, Clock.now(), parent, job)
      }
    }

  def all: Seq[Span] = spans.toSeq
}

object Clock {
  private val originWall = System.currentTimeMillis() * 1000000L
  private val originNano = System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock. */
  def now(): Long = originWall + (System.nanoTime() - originNano)
}

/** `java.io.Writer` that times every call into the writer it wraps —
  * the dump's driver-side I/O as the export pipeline issues it.
  */
final class TimingWriter(under: Writer) extends Writer {
  var nanos = 0L
  var calls = 0L
  val intervals = ArrayBuffer.empty[(Long, Long)]

  private def timed[T](body: => T): T = {
    val t0 = Clock.now()
    try body
    finally {
      val t1 = Clock.now()
      nanos += t1 - t0; calls += 1
      intervals += ((t0, t1))
    }
  }

  override def write(cbuf: Array[Char], off: Int, len: Int): Unit =
    timed(under.write(cbuf, off, len))
  override def write(s: String, off: Int, len: Int): Unit =
    timed(under.write(s, off, len))
  override def flush(): Unit = timed(under.flush())
  override def close(): Unit = timed(under.close())
}

/** Per-job Spark counters, filled by [[SparkProbe]]. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var planNs = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  val stageTaskMs = scala.collection.mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  /** Max ÷ median task time of the most skewed stage with ≥ 2 tasks. */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** SparkListener + QueryExecutionListener that route every event into
  * the current [[SparkCounters]]. Attached only while tracing.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  @volatile var current: SparkCounters = new SparkCounters
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private def c = current

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, e.time * 1000000L)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val start = Option(jobStarts.remove(e.jobId))
    val cc = c
    cc.synchronized {
      cc.jobs += 1
      start.foreach(s => cc.jobIntervals += ((s, e.time * 1000000L)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val cc = c
    cc.synchronized(cc.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val cc = c
    cc.synchronized {
      cc.tasks += 1
      if (!e.taskInfo.successful) cc.taskFailures += 1
      cc.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        cc.executorRunMs += m.executorRunTime
        cc.executorCpuNs += m.executorCpuTime
        cc.gcMs += m.jvmGCTime
        cc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        cc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        cc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        cc.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ns = qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
    val cc = c
    cc.synchronized(cc.planNs += ns)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Intervals {
  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionWithin(iv: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Length of `a`'s intervals that overlap the union of `b`'s. */
  def overlap(a: Iterable[(Long, Long)], b: Iterable[(Long, Long)]): Long = {
    val bs = b.toSeq.sortBy(_._1)
    a.iterator.map { case (s, e) =>
      unionWithin(bs.filter { case (x, y) => x < e && y > s }, s, e)
    }.sum
  }
}

/** Heap high-water mark of one job: the peaks of the pools that hold
  * what survives young collections (old generation and survivor space)
  * are reset when the job starts and summed when it ends. Eden is left
  * out: its peak is the young-generation size the collector picked, not
  * the job's footprint. In local mode driver and executors share this
  * JVM, so the figure covers both.
  */
object Heap {
  private def pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      !p.getName.toLowerCase.contains("eden"))
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}

/** Waits (up to `maxMs`) until the JIT compilers have been idle for
  * 150 ms, so compilations a previous job queued do not run on the
  * cores the next timed job uses.
  */
object Jit {
  private val bean = java.lang.management.ManagementFactory.getCompilationMXBean
  def settle(maxMs: Long = 3000): Unit = {
    val end = System.currentTimeMillis() + maxMs
    var last = bean.getTotalCompilationTime
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < end) {
      Thread.sleep(50)
      val now = bean.getTotalCompilationTime
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }
}

object Codegen {
  private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  /** (compilations so far, mean compile ms of the recent reservoir). */
  def mark(): (Long, Double) = (h.getCount, h.getSnapshot.getMean)
  /** Estimated compile seconds since `m`: new compilations × mean time. */
  def secondsSince(m: (Long, Double)): Double = {
    val n = h.getCount - m._1
    if (n <= 0) 0.0 else n * h.getSnapshot.getMean / 1000.0
  }
}
