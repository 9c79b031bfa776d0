package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span log: name, start, end and parent, written out at exit. */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val origin = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - origin) / 1e6

  def record(name: String, parent: Int, startMs: Double, endMs: Double): Int = synchronized {
    buf += Span(buf.size + 1, parent, name, startMs, endMs)
    buf.size
  }

  /** Times `f` as a span; `f` receives the span id, the parent of its children. */
  def span[A](name: String, parent: Int = 0)(f: Int => A): A = {
    val id = synchronized { buf += Span(buf.size + 1, parent, name, nowMs, Double.NaN); buf.size }
    try f(id)
    finally synchronized { buf(id - 1) = buf(id - 1).copy(endMs = nowMs) }
  }

  /** Milliseconds since this log's origin for an epoch-millisecond instant. */
  def fromEpochMs(epochMs: Double): Double =
    epochMs - (System.currentTimeMillis() - nowMs)

  def size: Int = synchronized(buf.size)

  def writeJsonl(path: java.nio.file.Path): Unit = synchronized {
    val lines = buf.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine counters summed over every job the program runs between [[begin]]
  * and [[seal]]: jobs, stages, tasks, executor run/CPU time, shuffle, spill,
  * scan input, and planning time from each action's `QueryExecution.tracker`
  * (analysis, optimization and physical planning phases).
  *
  * Events arrive on Spark's asynchronous listener bus, so [[begin]] and
  * [[seal]] each run a marker job and wait until the listener has seen it.
  * The marker flips the armed state in bus order, so every event posted
  * between the two calls is counted and nothing else is. Registered both as
  * a `SparkListener` and as a `QueryExecutionListener`; both are delivered
  * by the same shared-queue thread, in posting order.
  */
final class EngineListener extends SparkListener with QueryExecutionListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, shuffleRead, shuffleWrite, spill, inputBytes, inputRows = new AtomicLong
  val planningMs = new AtomicLong
  @volatile private var armed = false
  @volatile private var markerJob = -1
  @volatile private var latch = new CountDownLatch(1)
  private val MarkerKey = "perfbench.marker"

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey))) match {
      case Some(mode) => armed = mode == "begin"; markerJob = e.jobId
      case None => if (armed) jobs.incrementAndGet()
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == markerJob) latch.countDown()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (armed) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (armed && e.taskMetrics != null) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    runMs.addAndGet(m.executorRunTime)
    cpuNs.addAndGet(m.executorCpuTime)
    shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    inputBytes.addAndGet(m.inputMetrics.bytesRead)
    inputRows.addAndGet(m.inputMetrics.recordsRead)
  }

  private def plan(qe: QueryExecution): Unit = if (armed)
    planningMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = plan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = plan(qe)

  private def marker(sc: SparkContext, mode: String): Unit = {
    latch = new CountDownLatch(1)
    sc.setLocalProperty(MarkerKey, mode)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }
  def begin(sc: SparkContext): Unit = marker(sc, "begin")
  def seal(sc: SparkContext): Unit = marker(sc, "seal")

  def metrics: Seq[(String, Double, String)] = Seq(
    ("engine.planning_s", planningMs.get / 1e3, "s"),
    ("engine.jobs", jobs.get.toDouble, "count"),
    ("engine.stages", stages.get.toDouble, "count"),
    ("engine.tasks", tasks.get.toDouble, "count"),
    ("engine.executor_run_s", runMs.get / 1e3, "s"),
    ("engine.executor_cpu_s", cpuNs.get / 1e9, "s"),
    ("engine.shuffle_read_bytes", shuffleRead.get.toDouble, "bytes"),
    ("engine.shuffle_write_bytes", shuffleWrite.get.toDouble, "bytes"),
    ("engine.spill_bytes", spill.get.toDouble, "bytes"),
    ("sources.input_bytes", inputBytes.get.toDouble, "bytes"),
    ("sources.input_rows", inputRows.get.toDouble, "count"))
}

/** Process CPU time and peak used heap over a timed region.
  *
  * The peak is read from the JVM's heap memory pools: their peak usage is
  * reset when the region starts and summed when it ends. Nothing is forced:
  * the collector runs as it would without the meter.
  */
final class ProcessMeter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private var cpu0 = 0L

  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    cpu0 = os.getProcessCpuTime
  }
  /** Ends the region: CPU seconds and peak used heap in MB. */
  def stop(): (Double, Double) = {
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    (cpu, heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest nearest-rank percentile with at least 10 samples beyond
    * it (the maximum when there are too few samples for one): returns the
    * percentile, its value and the number of samples beyond it.
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val rank = if (s.size > 10) s.size - 10 else s.size
    (100.0 * rank / s.size, s(rank - 1), s.size - rank)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
