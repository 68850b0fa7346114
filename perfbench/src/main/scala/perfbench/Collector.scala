package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side counters of one timed call (differences of two
  * [[Collector]] snapshots). Times are summed over tasks, so on
  * `local[4]` `runMs` can reach 4 × wall.
  */
final case class SparkCounts(
    jobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    runMs: Long = 0,
    cpuNs: Long = 0,
    shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0,
    inputBytes: Long = 0,
) {
  def -(o: SparkCounts): SparkCounts = SparkCounts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs,
    cpuNs - o.cpuNs, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes)
  def +(o: SparkCounts): SparkCounts = SparkCounts(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, runMs + o.runMs,
    cpuNs + o.cpuNs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes)
}

/** Listener the traced run attaches: running totals of jobs, stages,
  * tasks, executor run/CPU time, shuffle bytes, spill and scan bytes.
  */
final class Collector extends SparkListener {
  @volatile private var c = SparkCounts()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { c = c.copy(jobs = c.jobs + 1) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c = c.copy(stages = c.stages + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c = c + SparkCounts(
        tasks = 1,
        runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead)
    }
  }

  def snapshot: SparkCounts = synchronized(c)
}

/** One timed call: wall seconds; process CPU seconds net of JIT
  * compilation (the JIT's compiler threads keep compiling long after the
  * warm-up, and their CPU is JVM start-up cost, not the call's work);
  * JVM GC seconds; codegen compiles; and, in traced runs, the Spark
  * counters.
  */
final case class Sample(
    wallS: Double,
    cpuS: Double,
    gcS: Double,
    compiles: Long,
    spark: SparkCounts,
)

object Probe {
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  /** Accumulated JIT compilation time of this JVM, in milliseconds. */
  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time `body`; with a collector, drain the listener bus on both sides
    * so the counters cover exactly this call.
    */
  def time(spark: SparkSession, collector: Option[Collector])(body: => Unit): Sample = {
    collector.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
    val s0 = collector.map(_.snapshot).getOrElse(SparkCounts())
    val (k0, g0, c0, j0) = (compiles(), gcMs(), cpuNs(), jitMs())
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs() - c0) / 1e9 - (jitMs() - j0) / 1e3
    val (gc, k) = ((gcMs() - g0) / 1e3, compiles() - k0)
    collector.foreach(_ => PerfbenchBus.drain(spark.sparkContext))
    val s1 = collector.map(_.snapshot).getOrElse(SparkCounts())
    Sample(wall, cpu, gc, k, s1 - s0)
  }

  /** Peak resident set of this JVM in MB (`VmHWM`). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
