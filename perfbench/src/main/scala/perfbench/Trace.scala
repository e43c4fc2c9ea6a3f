package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters read at a layer boundary. Spark's share comes from the public
  * listener API; GC and CPU time are JVM-wide (local mode runs the
  * executors inside this JVM). */
final case class Counts(jobs: Long, inputScans: Long, inputRecords: Long,
    shuffleWriteBytes: Long, spillBytes: Long, gcMs: Long, cpuNs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, inputScans - o.inputScans,
    inputRecords - o.inputRecords, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, gcMs - o.gcMs, cpuNs - o.cpuNs)
}

object Counts {
  def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
}

/** Jobs started, and per completed stage: whether it read input records
  * (one input scan), shuffle bytes written and bytes spilled. */
final class CountingListener extends SparkListener {
  private val jobs = new AtomicLong
  private val scans = new AtomicLong
  private val records = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      val read = m.inputMetrics.recordsRead
      if (read > 0) scans.incrementAndGet()
      records.addAndGet(read)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): Counts = Counts(jobs.get, scans.get, records.get,
    shuffleWrite.get, spill.get, Counts.jvmGcMs(), Counts.processCpuNs())
}

/** One traced interval: a layer prefix, a query or a whole job. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long,
    counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written as one JSON file when the run ends.
  * Listener events arrive asynchronously, so each boundary first drains
  * the listener bus (outside the timed interval). */
final class Tracer(spark: SparkSession, val traceId: String) {
  private val listener = new CountingListener
  private var attached = false
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  /** A stream progress listener attached and detached with the counters. */
  var streaming: Option[StreamingQueryListener] = None
  attach()

  /** Counters only advance while the listeners are attached. */
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    streaming.foreach(spark.streams.addListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.perfbenchshim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    streaming.foreach(spark.streams.removeListener)
    attached = false
  }

  private def counts(): Counts = {
    org.apache.spark.perfbenchshim.drainListenerBus(spark.sparkContext)
    listener.snapshot()
  }

  def span[T](name: String, parent: String)(f: => T): (T, Span) = {
    val c0 = counts()
    val t0 = System.nanoTime()
    val r = f
    val t1 = System.nanoTime()
    val s = Span(name, parent, t0, t1, counts() - c0)
    spans += s
    (r, s)
  }

  def writeJson(path: String): Unit = {
    val body = spans.map { s =>
      val c = s.counts
      s"""{"trace":${Json.str(traceId)},"name":${Json.str(s.name)},""" +
        s""""parent":${Json.str(s.parent)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"jobs":${c.jobs},"input_scans":${c.inputScans},""" +
        s""""input_records":${c.inputRecords},"shuffle_write_bytes":${c.shuffleWriteBytes},""" +
        s""""spill_bytes":${c.spillBytes},"gc_ms":${c.gcMs},"cpu_ns":${c.cpuNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** Flat object of already-encoded values. */
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stat {
  /** Median with the mean of the middle pair for even counts. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
