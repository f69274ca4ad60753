package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer boundary: an op or a call the benchmark makes into the
  * program (recorded by [[Tracer.span]]), or a Spark job / Catalyst phase
  * reported by Spark's listeners. Times are epoch microseconds. `parent`
  * 0 means "attach by time containment" (Catalyst phases carry no span
  * id); -1 marks work outside any measured op. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startUs: Long, endUs: Long)

object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** Scheduler counters of the tasks, stages and jobs one span caused. */
final class SchedCounts {
  var jobs, stages, tasks, deserMs, runMs, cpuNs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "deser_ms" -> deserMs,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "input_bytes" -> inputBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes)
}

/** Benchmark-side tracing. Disabled, [[span]] only runs its body: no
  * listener is attached and no local property is set, so the untraced
  * run measures the program alone. Enabled, every span id rides the
  * `perfbench.span` local property, which Spark copies into each job's
  * properties: the listener attributes jobs, stages and tasks to the
  * exact benchmark call that caused them. Spans stay in memory until the
  * run ends. */
final class Tracer(val enabled: Boolean) {
  val PropKey = "perfbench.span"
  private val ids = new AtomicLong(0)
  private val spans = ArrayBuffer.empty[Span]
  val sched = new ConcurrentHashMap[Long, SchedCounts]()
  @volatile private var drained = false

  def nextId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)
  def counts(span: Long): SchedCounts = sched.computeIfAbsent(span, _ => new SchedCounts)

  def span[T](spark: SparkSession, layer: String, name: String, parent: Long)(body: Long => T): T = {
    val id = nextId()
    if (!enabled) return body(id)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, id.toString)
    val t0 = Clock.nowUs
    try body(id) finally {
      record(Span(id, parent, layer, name, t0, Clock.nowUs))
      sc.setLocalProperty(PropKey, prev)
    }
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SchedListener)
    spark.listenerManager.register(new PhaseListener)
  }

  /** Block until the listener bus has delivered every event posted so
    * far: a sentinel job runs last, and the shared queue delivers in
    * order. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    drained = false
    val sc = spark.sparkContext
    sc.setLocalProperty(PropKey, "-2")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(PropKey, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(PropKey))).map(_.toLong).getOrElse(-1L)

  private final class SchedListener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = spanOf(e.properties)
      jobStart.put(e.jobId, (span, e.time))
      e.stageIds.foreach(stageSpan.put(_, span))
      counts(span).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (span, t0) = Option(jobStart.remove(e.jobId)).getOrElse((-1L, e.time))
      if (span == -2L) drained = true
      else record(Span(nextId(), span, "sched.job", s"job ${e.jobId}", t0 * 1000L, e.time * 1000L))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counts(stageSpan.getOrDefault(e.stageInfo.stageId, -1L)).stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counts(stageSpan.getOrDefault(e.stageId, -1L))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.deserMs += m.executorDeserializeTime
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Catalyst phase times of every executed query, attached to the
    * benchmark span that contains them by time. */
  private final class PhaseListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(f, qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(f, qe)
    private def phases(f: String, qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        record(Span(nextId(), 0L, s"catalyst.$phase", f, s.startTimeMs * 1000L, s.endTimeMs * 1000L))
      }
  }
}

/** Process-wide counters read before and after a window: codegen
  * compiles and compile time, GC, class loading, metaspace. */
object JvmCounters {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (task, driver, GC and JIT threads).
    * Time the host steals from the VM is not charged to it. */
  def processCpuNs: Long = os.getProcessCpuTime

  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long = CodeGenerator.compileTime

  def snapshot(): Map[String, Double] = Map(
    "codegen.compiles" -> compiles.toDouble,
    "codegen.compile_ms" -> compileNs / 1e6,
    "jvm.gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
    "jvm.gc_ms" -> gcs.map(_.getCollectionTime).sum.toDouble,
    "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount.toDouble,
    "jvm.metaspace_mb" -> pools.filter(_.getName == "Metaspace")
      .map(_.getUsage.getUsed).sum / 1048576.0)

  /** Heap in use after a full collection: what the run retains. The
    * lower of two collections 300 ms apart, so that garbage the context
    * cleaner releases only after the first one does not count. */
  def heapAfterGcMb(): Double = (1 to 2).map { i =>
    if (i == 2) Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def heapMaxMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax / 1048576.0
}
